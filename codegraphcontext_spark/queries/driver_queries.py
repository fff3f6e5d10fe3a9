"""Driver-contract queries: every operator exposed via __spark_entry__.queries()
with a DuckDB oracle twin in oracle_sql().

These run over the driver-provided tables at /root/testdata/sf*/ (documents,
embeddings, events, lineitem, ...). The documents table plays the role of the
corpus: the KG operators (term dictionary, mentions, co-occurrence, closure)
are the SQL-expressible transposition of the reference's query surface
(reference tools/code_finder.py; SURVEY.md §2.4 Q1-Q23), and the dedup /
similarity / text-quality operators are the training-data-pipeline extensions.

Determinism rules for oracle parity:
  * integer or string outputs only — floats are scaled to *_x1e6 bigints,
  * every LIMIT has a total tie-break ordering, identical on both sides,
  * cross-engine hashing uses md5 (identical lowercase hex in Spark & DuckDB),
  * no engine-specific float summation orders feeding unrounded outputs.

Shared fragments: a mechanism used by more than one query has one
definition here; a new query reuses it instead of copying its text.
  * oracle CTEs: _TOKS_CTE, _moments_cte / _LANG_HITS_SQL / _QUAL_CTE
    (text-quality moments and score), _SHINGLE_CTE, _SHINGLE_PAIRS_CTE
    (df-capped truth pairs), _DUP_QUAL_CTE, _SIG_CTE / _BANDS_SQL (MinHash
    signatures and bands), _EMB_CTE, _IVF_ASSIGN_CTE, _PQ_CODES_CTE,
    _rerank_sql (exact-cosine re-rank) and _MKV_T_CTE (event transition
    pairs); graph_queries.py adds _G_CTE, _G_REC_CTE, _und_cte,
    _OPEN_PAIRS_SQL and _REL_E2_CTE.
  * Spark twins: _moments / _lang_hit_cols / _lang_pred / _QUALITY_SQL,
    _df_capped + _pair_counts, _sig_bands, _query_vec / _cos / _cos_top,
    _block_pair_grid + _block_dsq (block-pair GEMM self-join),
    _transition_counts + _markov_power; graph_queries.py adds _open_edges,
    _open_triples, _undirected, _und_degree and _name_of. Shared
    intermediates are memoized per session through kernels.memo (the
    ensure_* seams).
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .kernels import frontier_bfs, memo, pin, simple_paths

# closed term dictionary — the E11-analog entity dictionary over documents
DICT_TERMS = [
    "spark", "join", "filter", "window", "hash",
    "merge", "sort", "scan", "agg", "stream",
]
_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in DICT_TERMS) + ")"

STOPWORDS = ["the", "a"]
_STOP_SQL = "('the', 'a')"

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None):
    def deco(fn):
        if name in SPARK_QUERIES:  # a silent overwrite would shadow the
            raise ValueError(       # original and skew the driver sweep
                f"duplicate query registration: {name}"
            )
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_FAN_CACHE: dict = {}


def _fan_out(df: DataFrame) -> DataFrame:
    """Restore scan-side parallelism for small single-file inputs.

    The bench testdata ships one parquet file per table with one row group,
    so the scan (and every narrow transform fused onto it — the expensive
    tokenize/shingle HOFs) runs as ONE task. Repartition to the session's
    parallelism ONLY when the scan is under-partitioned: the shuffle moves
    just the raw (doc_id, text) rows (~MBs), and on a real many-split
    100 TB corpus the guard makes this a no-op (no blind full-corpus
    repartition).

    The probe (`df.rdd.getNumPartitions()`) forces a full physical planning
    pass, so its result is memoized per (application, input-file-set): scan
    partitioning is decided by file sizes + session confs only, never by the
    narrow projections callers stack on top, so one probe per table per
    session is exact — ~40 sweep queries pay 3 probes instead of 40."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # noqa: BLE001 - non-file-backed plan
        files = ()
    if files:
        key = (sc.applicationId, files)
        n = _FAN_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _FAN_CACHE[key] = n
    else:
        n = df.rdd.getNumPartitions()
    if n < p:
        return df.repartition(p)
    return df


def _tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) — one row per token occurrence."""
    return _fan_out(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")


def _dict_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, term) occurrences restricted to the dictionary. The
    restriction runs INSIDE the array HOF (filter-then-explode), so only
    dictionary hits ever become rows — at web scale that is ~5% of tokens
    instead of exploding the whole corpus and filtering rows after."""
    kept = F.filter(
        F.split("text", " "), lambda t: t.isin(DICT_TERMS)
    )
    return _fan_out(docs).select("doc_id", F.explode(kept).alias("term"))


def _lang_hit_cols() -> list:
    """Per-doc en/de/fr stopword votes — the Spark twin of _LANG_HITS_SQL."""
    return [
        F.sum(F.col("term").isin(*words).cast("int")).alias(f"{lang}_hits")
        for lang, words in (
            ("en", ("the", "a", "of")),
            ("de", ("der", "die", "und")),
            ("fr", ("le", "la", "et")),
        )
    ]


def _lang_pred():
    """Language-ID heuristic over the votes: the most voted language, ties
    to en > de > fr, 'unknown' without a vote."""
    return (
        F.when(
            (F.col("en_hits") >= F.col("de_hits"))
            & (F.col("en_hits") >= F.col("fr_hits"))
            & (F.col("en_hits") > 0),
            "en",
        )
        .when(
            (F.col("de_hits") >= F.col("fr_hits")) & (F.col("de_hits") > 0),
            "de",
        )
        .when(F.col("fr_hits") > 0, "fr")
        .otherwise("unknown")
    )


def _moments(toks: DataFrame, *extra) -> DataFrame:
    """Per-doc text-quality moments (n_tokens, stops, alpha, then
    ``extra``) — the Spark twin of _moments_cte."""
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("term").isin(STOPWORDS).cast("int")).alias("stops"),
        F.sum(F.col("term").rlike("^[A-Za-z]+$").cast("int")).alias("alpha"),
        *extra,
    )


# The quality score over the moments: length credit + alpha-token ratio +
# in-band stopword-ratio bonus, in thousandths.
_QUAL_SQL = (
    "LEAST(n_tokens, 200) * 2 + alpha * 300 DIV n_tokens"
    " + CASE WHEN stops * 100 DIV n_tokens BETWEEN 2 AND 40"
    " THEN 300 ELSE 0 END"
)
_QUALITY_SQL = f"CAST({_QUAL_SQL} AS BIGINT)"


def _mentions(docs: DataFrame) -> DataFrame:
    """distinct (doc_id, term) restricted to the dictionary."""
    return _dict_tokens(docs).distinct()


_TOKS_CTE = (
    "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents)"
)
_MENT_CTE = (
    _TOKS_CTE
    + f", mentions AS (SELECT DISTINCT doc_id, term FROM toks WHERE term IN {_TERMS_SQL})"
)

# Per-document text-quality moments over toks (m): token count, stopword
# and alphabetic hits, plus extra columns such as the en/de/fr votes the
# language-ID heuristic reads. _QUAL_CTE adds the quality score q.
_LANG_HITS_SQL = """SUM(CASE WHEN term IN ('the', 'a', 'of')
                     THEN 1 ELSE 0 END) AS en_hits,
                 SUM(CASE WHEN term IN ('der', 'die', 'und')
                     THEN 1 ELSE 0 END) AS de_hits,
                 SUM(CASE WHEN term IN ('le', 'la', 'et')
                     THEN 1 ELSE 0 END) AS fr_hits"""


def _moments_cte(*extra: str, pad: int = 21) -> str:
    """The m CTE with ``extra`` SQL columns after alpha. ``pad`` is the
    column of alpha's THEN line (the two oracle layouts in use)."""
    cols = ",\n                 ".join((
        f"SUM(CASE WHEN term IN {_STOP_SQL} THEN 1 ELSE 0 END)\n"
        "                   AS stops",
        "SUM(CASE WHEN regexp_matches(term, '^[A-Za-z]+$')\n"
        f"{' ' * pad}THEN 1 ELSE 0 END) AS alpha",
        *extra,
    ))
    return (
        "m AS (SELECT doc_id, COUNT(*) AS n_tokens,\n                 "
        f"{cols}\n          FROM toks GROUP BY doc_id)"
    )


_QUAL_CTE = _moments_cte(pad=26) + """,
    q AS (SELECT doc_id,
                 LEAST(n_tokens, 200) * 2 + alpha * 300 // n_tokens
                 + CASE WHEN stops * 100 // n_tokens BETWEEN 2 AND 40
                        THEN 300 ELSE 0 END AS qual
          FROM m)"""


# =============================================================================
# KG query surface over documents (reference code_finder.py analogs)
# =============================================================================

@_q(
    "kg_term_stats",
    f"""{_TOKS_CTE}
    SELECT term, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
    FROM toks WHERE term IN {_TERMS_SQL} GROUP BY term""",
)
def kg_term_stats(spark, sf_dir):
    """Dictionary build (E11 analog): per dictionary term, document frequency
    and occurrence count."""
    return (
        _dict_tokens(_t(spark, sf_dir, "documents"))
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
    )


@_q(
    "kg_top_terms",
    f"""{_TOKS_CTE}
    SELECT term, COUNT(*) AS n_occ FROM toks GROUP BY term
    ORDER BY n_occ DESC, term ASC LIMIT 20""",
)
def kg_top_terms(spark, sf_dir):
    """Top-k aggregation (Q22 analog: TakeOrderedAndProject)."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("term"))
        .limit(20)
    )


@_q(
    "kg_mentions",
    f"{_MENT_CTE} SELECT doc_id, term FROM mentions",
)
def kg_mentions(spark, sf_dir):
    """The MENTIONS edge table: distinct (doc, dictionary term)."""
    return _mentions(_t(spark, sf_dir, "documents"))


@_q(
    "kg_cooccurrence",
    f"""{_MENT_CTE}
    SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_docs
    FROM mentions a JOIN mentions b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.term, b.term""",
)
def kg_cooccurrence(spark, sf_dir):
    """Module co-occurrence (Q18 analog, code_finder.py:522-553): term pairs
    sharing documents, with counts."""
    m = _mentions(_t(spark, sf_dir, "documents"))
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_q(
    "kg_who_references",
    f"""{_TOKS_CTE}
    SELECT doc_id, COUNT(*) AS n_occ FROM toks WHERE term = 'spark'
    GROUP BY doc_id ORDER BY n_occ DESC, doc_id ASC LIMIT 20""",
)
def kg_who_references(spark, sf_dir):
    """find_callers analog (Q8, code_finder.py:170-234): documents referencing
    the 'spark' entity, heaviest first."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    return (
        toks.where(F.col("term") == "spark")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("doc_id"))
        .limit(20)
    )


@_q(
    "kg_doc_references",
    f"""{_TOKS_CTE}
    SELECT term, COUNT(*) AS n_occ FROM toks
    WHERE doc_id = 7 AND term IN {_TERMS_SQL} GROUP BY term""",
)
def kg_doc_references(spark, sf_dir):
    """find_callees analog (Q9): what dictionary entities does doc 7 reference."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    return (
        toks.where((F.col("doc_id") == 7) & F.col("term").isin(DICT_TERMS))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )


@_q(
    "kg_most_referenced",
    f"""{_MENT_CTE}
    SELECT term, COUNT(*) AS n_docs FROM mentions GROUP BY term
    ORDER BY n_docs DESC, term ASC LIMIT 5""",
)
def kg_most_referenced(spark, sf_dir):
    """most-complex-functions analog (Q22): top-5 dictionary terms by reach."""
    m = _mentions(_t(spark, sf_dir, "documents"))
    return (
        m.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("term"))
        .limit(5)
    )


@_q(
    "kg_dead_terms",
    """WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    pairs AS (
      SELECT unnest(arr[1:len(arr)-1]) AS a, unnest(arr[2:len(arr)]) AS b
      FROM toks),
    adj AS (
      SELECT DISTINCT CASE WHEN a = 'spark' THEN b ELSE a END AS term
      FROM pairs WHERE a = 'spark' OR b = 'spark'),
    vocab AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS term FROM documents)
    SELECT term FROM vocab
    WHERE term <> 'spark' AND term NOT IN (SELECT term FROM adj)""",
)
def kg_dead_terms(spark, sf_dir):
    """dead-code analog (Q14, code_finder.py:414-447): vocabulary terms with
    NO direct reference (token adjacency — the CALLS-edge analog) to the
    anchor term, an anti-join of the full vocabulary against the anchor's
    neighbor set. The earlier form (dictionary terms never sharing a DOC
    with the anchor) returned zero rows on the driver corpus — a trivially
    green oracle; edge-level liveness is both non-empty and the closer
    analog of "function with no incoming CALLS edge".

    Scale shape: the anchor filter runs INSIDE the array HOF (narrow map,
    whole-stage codegen), so only the anchor's own adjacency pairs are ever
    exploded; vocab is a map-side-combinable distinct; the anti-join is
    hint-free — a hub anchor's neighbor set is vocabulary-sized in the
    worst case, so AQE decides broadcast vs shuffle from its real size."""
    docs = _fan_out(_t(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, F.lit(1), n),
        F.slice(toks, F.lit(2), n),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    anchor_pairs = F.filter(
        pairs, lambda p: (p["a"] == "spark") | (p["b"] == "spark")
    )
    neighbors = (
        docs.select(F.explode(anchor_pairs).alias("p"))
        .select(
            F.when(F.col("p.a") == "spark", F.col("p.b"))
            .otherwise(F.col("p.a"))
            .alias("term")
        )
        .distinct()
    )
    vocab = (
        docs.select(F.explode(toks).alias("term"))
        .distinct()
        .where(F.col("term") != "spark")
    )
    return vocab.join(neighbors, on="term", how="left_anti")


@_q(
    "kg_search_content",
    """SELECT doc_id, lang, n_chars FROM documents
    WHERE text LIKE '%window%' AND text LIKE '%merge%'""",
)
def kg_search_content(spark, sf_dir):
    """full-text search analog (Q4): conjunctive substring search."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(
        F.col("text").contains("window") & F.col("text").contains("merge")
    ).select("doc_id", "lang", "n_chars")


@_q(
    "kg_rank_fusion",
    """SELECT doc_id, search_type, relevance FROM (
      SELECT doc_id, 'spark' AS search_type,
             90 - CASE WHEN lang <> 'en' THEN 20 ELSE 0 END AS relevance
        FROM documents WHERE text LIKE '%spark%'
      UNION ALL
      SELECT doc_id, 'join', 80 - CASE WHEN lang <> 'en' THEN 20 ELSE 0 END
        FROM documents WHERE text LIKE '%join%'
      UNION ALL
      SELECT doc_id, 'filter', 70 - CASE WHEN lang <> 'en' THEN 20 ELSE 0 END
        FROM documents WHERE text LIKE '%filter%')
    ORDER BY relevance DESC, doc_id ASC, search_type ASC LIMIT 15""",
)
def kg_rank_fusion(spark, sf_dir):
    """find_related_code analog (Q5, code_finder.py:81-118): three tagged
    searches with static weights (non-primary-language docs penalized, the
    is_dependency analog), fused by global sort."""
    docs = _t(spark, sf_dir, "documents")
    dep_pen = F.when(F.col("lang") != "en", 20).otherwise(0)

    def branch(term: str, weight: int) -> DataFrame:
        return docs.where(F.col("text").contains(term)).select(
            "doc_id",
            F.lit(term).alias("search_type"),
            (F.lit(weight) - dep_pen).alias("relevance"),
        )

    u = branch("spark", 90).unionByName(branch("join", 80)).unionByName(
        branch("filter", 70)
    )
    return u.orderBy(
        F.desc("relevance"), F.asc("doc_id"), F.asc("search_type")
    ).limit(15)


@_q(
    "kg_sources_of_term",
    f"""{_MENT_CTE}
    SELECT d.source, COUNT(DISTINCT d.doc_id) AS n_docs
    FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
    WHERE m.term = 'merge' GROUP BY d.source""",
)
def kg_sources_of_term(spark, sf_dir):
    """who-imports-module analog (Q10): sources whose docs mention 'merge'."""
    docs = _t(spark, sf_dir, "documents")
    m = _mentions(docs).where(F.col("term") == "merge")
    return (
        m.join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )


@_q(
    "kg_usage_scope",
    f"""{_MENT_CTE}
    SELECT CASE WHEN d.lang = 'en' THEN 'english'
                WHEN d.lang = 'de' THEN 'german'
                ELSE 'other' END AS scope,
           COUNT(*) AS n_docs
    FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
    WHERE m.term = 'hash' GROUP BY 1""",
)
def kg_usage_scope(spark, sf_dir):
    """variable-usage-scope analog (Q11/Q19, code_finder.py:555-586): CASE
    scope classification of 'hash' mentions."""
    docs = _t(spark, sf_dir, "documents")
    m = _mentions(docs).where(F.col("term") == "hash")
    scope = (
        F.when(F.col("lang") == "en", "english")
        .when(F.col("lang") == "de", "german")
        .otherwise("other")
    )
    return (
        m.join(docs.select("doc_id", "lang"), on="doc_id")
        .groupBy(scope.alias("scope"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- adjacency graph + bounded closure (Q15-Q17 analogs) ---------------------
_ADJ_CTE = (
    "WITH pos AS (SELECT doc_id, t.term, t.i FROM (SELECT doc_id, "
    "string_split(text, ' ') AS toks FROM documents), "
    "LATERAL (SELECT unnest(toks) AS term, generate_subscripts(toks, 1) AS i) t), "
    f"adj AS (SELECT DISTINCT a.term AS src, b.term AS dst FROM pos a "
    f"JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1 "
    f"WHERE a.term IN {_TERMS_SQL} AND b.term IN {_TERMS_SQL} AND a.term <> b.term)"
)


def _adjacency(docs: DataFrame) -> DataFrame:
    """distinct (src, dst) edges between consecutive dictionary terms.

    Adjacent pairs come from zipping the token array with itself shifted by
    one (`zip_with` over two `slice`s) — a single narrow map per document,
    entirely inside whole-stage codegen. The only shuffle is the final
    `distinct` over the (tiny) dictionary-filtered edge set. The previous
    shape (posexplode all tokens, positional self-join on (doc_id, i+1))
    shuffled every token of the corpus twice; at 100 TB that join IS the
    bottleneck, while this form scans once and shuffles almost nothing."""
    toks = F.split("text", " ")
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, F.lit(1), n),
        F.slice(toks, F.lit(2), n),
        lambda x, y: F.struct(x.alias("src"), y.alias("dst")),
    )
    return (
        _fan_out(docs)
        .select(F.explode(pairs).alias("p"))
        .select("p.src", "p.dst")
        .where(
            F.col("src").isin(DICT_TERMS)
            & F.col("dst").isin(DICT_TERMS)
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )


@_q("kg_term_adjacency", f"{_ADJ_CTE} SELECT src, dst FROM adj")
def kg_term_adjacency(spark, sf_dir):
    """The CALLS-edge analog: direct adjacency between dictionary terms."""
    return _adjacency(_t(spark, sf_dir, "documents"))


@_q(
    "kg_closure_from_spark",
    f"""{_ADJ_CTE},
    r AS (
      SELECT 'spark' AS term, 0 AS depth
      UNION ALL
      SELECT adj.dst, r.depth + 1 FROM r JOIN adj ON adj.src = r.term
      WHERE r.depth < 3)
    SELECT term, MIN(depth) AS min_depth FROM r GROUP BY term""".replace(
        "WITH pos", "WITH RECURSIVE pos"
    ),
)
def kg_closure_from_spark(spark, sf_dir):
    """Transitive closure analog (Q15-Q17, code_finder.py:449-520): BFS to
    depth 3 from 'spark' over the adjacency graph — the kernel's
    frontier_bfs, whose first-visit depth is the min depth."""
    adj = pin(_adjacency(_t(spark, sf_dir, "documents")))
    seed = spark.createDataFrame([(0, "spark")], "source int, node string")
    return frontier_bfs(adj, seed, 3).select(
        F.col("node").alias("term"), F.col("depth").alias("min_depth")
    )


# =============================================================================
# Dedup operators (training-data pipeline)
# =============================================================================

@_q(
    "dedup_exact_hash",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents",
)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup key: content hash per document (groupBy this at scale)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_md5")
    )


_SHINGLE_CTE = (
    "WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, "
    "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle "
    "FROM s0, LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i) g)"
)


def _let(bound, body):
    """HOF let-binding: evaluate `bound` ONCE per row and hand the result to
    `body` as a lambda variable. Higher-order functions evaluate their
    lambdas interpreted (no codegen, no common-subexpression elimination
    inside the lambda body), so a lambda that references an outer expression
    SUBTREE — e.g. ``element_at(split(text, ' '), i)`` — re-evaluates that
    subtree for EVERY element: an O(n) split per position turns shingling
    into O(n²) per document, quadratic in document length (measured 19x on
    the winnow fingerprint stage, and fatal on real web documents at 100 TB
    where docs are 10-100x the test fixtures). Wrapping the subtree in a
    one-element array and transforming it binds the value to a
    NamedLambdaVariable, which inner lambdas reference by value. Column
    references (aliases from a previous projection) don't need this —
    CollapseProject refuses to inline a multi-referenced non-trivial alias —
    but any expensive subtree used INSIDE a lambda does."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def _shingle_array(toks):
    """array of word-3-gram shingles of a token-array column (JVM-side:
    sequence+element_at) — the ONE shingling rule, shared by every consumer
    so the Spark side cannot drift from the shared `_SHINGLE_CTE` oracle.
    The token array is let-bound so the shingle lambda reads a computed
    value instead of re-evaluating the tokenizer per position (see _let)."""

    def _sh(t):
        n = F.size(t)
        return F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(toks, _sh)


def _shingles(docs: DataFrame) -> DataFrame:
    """distinct word-3-gram shingles per doc."""
    sh = _shingle_array(F.split("text", " "))
    return (
        _fan_out(docs).select(
            "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
        )
    )


_SHINGLE_DF_CAP = 20  # drop shingles appearing in more docs (boilerplate)

def _df_capped(sh: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows whose shingle is in at most _SHINGLE_DF_CAP
    docs — the Spark twin of the oracle's keep/shk CTEs."""
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= _SHINGLE_DF_CAP)
        .select("shingle")
    )
    return sh.join(keep, on="shingle", how="left_semi")


def _pair_counts(sh: DataFrame) -> DataFrame:
    """Columns doc_a, doc_b, n_shared, na, nb over a capped shingle table:
    shared shingles per doc pair (at least 2) beside each doc's shingle
    count — the Spark twin of the oracle's sizes/pairs CTEs."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb")
    return pairs.join(sa, on="doc_a").join(sb, on="doc_b")


# The df-capped truth-pair CTEs (keep/shk/sizes/pairs): shared shingle
# counts per doc pair, before any oracle scores or thresholds them.
_SHINGLE_PAIRS_CTE = f"""{_SHINGLE_CTE},
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) <= {_SHINGLE_DF_CAP}),
    shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shk GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""


@_q(
    "dedup_shingle_pairs",
    f"""{_SHINGLE_PAIRS_CTE}
    SELECT p.doc_a, p.doc_b, p.n_shared,
           CAST(p.n_shared * 1000000 // (sa.n + sb.n - p.n_shared) AS BIGINT)
             AS jaccard_x1e6
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_shared >= 2""",
)
def dedup_shingle_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup candidates via inverted shingle index
    (the exact-verification side of MinHash-LSH).

    Shingles with document frequency > _SHINGLE_DF_CAP are dropped BEFORE the
    self-join (standard near-dup practice: a boilerplate 3-gram shared by 1M
    docs would alone emit ~10^12 pairs — pair count is quadratic in the
    hottest shingle's df). The cap bounds per-shingle fanout at C(K,2) and
    the Jaccard denominator counts only kept (discriminative) shingles, on
    both the Spark and oracle sides."""
    return ensure_shingle_pairs(spark, sf_dir)


def _shingle_pairs_from(sh: DataFrame) -> DataFrame:
    """The df-capped inverted-index pair join over a (doc_id, shingle)
    frame — shared by dedup_shingle_pairs and er_blocking_quality so the
    audit reuses one shingle scan instead of re-exploding the corpus."""
    # materialize the capped shingle table ONCE: it feeds the sizes agg and
    # BOTH sides of the pair self-join — without this the shingle explode
    # recomputes 4x (measured 15s -> ~6s at sf0.1)
    sh = _df_capped(sh).localCheckpoint(eager=True)
    return (
        _pair_counts(sh)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.expr("CAST(n_shared * 1000000 DIV (na + nb - n_shared) AS BIGINT)")
            .alias("jaccard_x1e6"),
        )
    )


_N_MINHASH_Q = 4


_MINHASH_SQL_COLS = ", ".join(
    f"list_min(list_transform(shingles, s -> md5('{k}:' || s))) AS h{k}"
    for k in range(_N_MINHASH_Q)
)
# MinHash signatures per doc (agg/sig) and their band union (one row per
# (band, signature value, doc)) — the LSH blocking input.
_SIG_CTE = f"""agg AS (SELECT doc_id, list(shingle) AS shingles FROM sh GROUP BY doc_id),
    sig AS (SELECT doc_id, {_MINHASH_SQL_COLS} FROM agg)"""
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT {k} AS band, h{k} AS sig_v, doc_id FROM sig"
    for k in range(_N_MINHASH_Q)
)


@_q(
    "dedup_minhash_sig",
    f"""{_SHINGLE_CTE},
    agg AS (SELECT doc_id, list(shingle) AS shingles FROM sh GROUP BY doc_id)
    SELECT doc_id, {_MINHASH_SQL_COLS} FROM agg""",
)
def dedup_minhash_sig(spark, sf_dir):
    """MinHash signatures (4 seeded md5-min hashes over word-3-gram shingles) —
    deterministic across engines because md5 hex strings compare identically.

    Spark side aggregates min-per-seed DIRECTLY over the exploded shingle
    rows (groupBy + 4 F.min columns): partial aggregation combines map-side,
    so no per-doc shingle array is ever materialized or shuffled — the
    100 TB-safe shape. The oracle's collect-then-list_min form is the same
    min over the same distinct-shingle set."""
    return ensure_minhash_sig(spark, sf_dir)


def _sig_bands(sig: DataFrame) -> DataFrame:
    """(band, sig_v, doc_id): one row per MinHash band of each signature —
    the Spark twin of _BANDS_SQL."""
    bands = None
    for k in range(_N_MINHASH_Q):
        b = sig.select(
            F.lit(k).alias("band"), F.col(f"h{k}").alias("sig_v"), "doc_id"
        )
        bands = b if bands is None else bands.unionByName(b)
    return bands


def _minhash_from(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("shingle")))).alias(f"h{k}")
            for k in range(_N_MINHASH_Q)
        ]
    )


# ---------------------------------------------------------------------------
# Shared-intermediate materialization seams (the ensure_graph discipline
# applied to the dedup family): seven audit queries each used to recompute
# the full shingle scan / capped pair join / LSH+CC cluster map from scratch
# (~3.5-4 s each, ~20 s of the sf0.1 sweep — VERDICT r04 item 4). Each seam
# materializes its frame ONCE per (application, sf tier) via an eager
# localCheckpoint; every later consumer reads the pinned rows. At 100 TB the
# same seam is a written parquet/Iceberg checkpoint (the pipeline runner's
# stage-commit shape) instead of executor-storage — the dependency graph is
# identical, only the storage medium changes.
# ---------------------------------------------------------------------------


def _ensure_df(
    spark: SparkSession, sf_dir: str, tag: str, build: Callable[[], DataFrame]
) -> DataFrame:
    # the resolved table loader rides in the memo key so a test that
    # monkeypatches `_t` (hand-built documents) gets a fresh build, not a
    # stale memo of the real corpus — and vice versa
    return memo(spark, (sf_dir, tag, _t), build)


def ensure_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) word-3-gram table, materialized once —
    feeds the truth-pair join, minhash signatures, fingerprints, novelty,
    containment and the winnow family."""
    return _ensure_df(
        spark, sf_dir, "shingles",
        lambda: _shingles(_t(spark, sf_dir, "documents")),
    )


def ensure_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df-capped truth pairs (doc_a, doc_b, n_shared, jaccard_x1e6),
    materialized once — the shared expensive leg of the dedup audits."""
    return _ensure_df(
        spark, sf_dir, "shingle_pairs",
        lambda: _shingle_pairs_from(ensure_shingles(spark, sf_dir)),
    )


def ensure_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 4-hash MinHash signature table, materialized once."""
    return _ensure_df(
        spark, sf_dir, "minhash_sig",
        lambda: _minhash_from(ensure_shingles(spark, sf_dir)),
    )


def ensure_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH+CC doc -> cluster_id map (every doc, singletons = own id),
    materialized once — consumed by dedup_cc_clusters, dedup_cluster_stats,
    curate_canonical and curate_leakage."""
    return _ensure_df(
        spark, sf_dir, "cc_clusters",
        lambda: _cc_cluster_map(spark, sf_dir),
    )


@_q(
    "dedup_lsh_buckets",
    f"""{_SHINGLE_CTE},
    {_SIG_CTE},
    bands AS (
      {_BANDS_SQL}
    )
    SELECT band, sig_v, COUNT(*) AS n_docs FROM bands
    GROUP BY band, sig_v HAVING COUNT(*) >= 2""",
)
def dedup_lsh_buckets(spark, sf_dir):
    """LSH banding stats: bucket sizes per (band, signature) — the blocking
    step of MinHash-LSH dedup (bounded output; the pair join happens inside
    buckets at full scale)."""
    sig = dedup_minhash_sig(spark, sf_dir)
    return (
        _sig_bands(sig).groupBy("band", "sig_v")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )


# SimHash oracle: same bit layout as the Spark side — bit b is extracted from
# the 16-bit integer at shift (3 - b//4)*4 + (b%4); hex->int via DuckDB's
# '0x' cast (= Spark's conv(hex,16,10)).
_SIMHASH_SHIFTS = [(3 - b // 4) * 4 + (b % 4) for b in range(16)]
_SIMHASH_VOTE_COLS = ", ".join(
    f"SUM((h16 >> {s}) & 1) AS s{b}" for b, s in enumerate(_SIMHASH_SHIFTS)
)
_SIMHASH_SUM = " + ".join(
    f"(CASE WHEN s{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(16)
)


@_q(
    "dedup_simhash",
    f"""WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    t AS (SELECT doc_id, ('0x' || substring(md5(term), 1, 4))::INTEGER AS h16
          FROM toks WHERE term <> ''),
    v AS (SELECT doc_id, COUNT(*) AS n, {_SIMHASH_VOTE_COLS}
          FROM t GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_SUM} AS BIGINT) AS simhash16 FROM v""",
)
def dedup_simhash(spark, sf_dir):
    """SimHash (16-bit) per doc: per-token md5 nibbles vote per bit position.
    The DuckDB twin reproduces the exact bit layout with integer shift/mask
    ops (hex->int via '0x' cast = Spark's conv(_, 16, 10))."""
    toks = _tokens(_t(spark, sf_dir, "documents")).distinct()
    # one md5 per token; all 16 bits unpacked from its first 4 hex chars
    # (bit b = nibble b//4, bit b%4 — same layout as the per-nibble form)
    h16 = F.conv(F.substring(F.md5("term"), 1, 4), 16, 10).cast("int")
    per_tok = toks.select("doc_id", h16.alias("h16")).select("doc_id", *[
        (
            F.shiftright(F.col("h16"), (3 - b // 4) * 4 + (b % 4)).bitwiseAND(F.lit(1))
        ).alias(f"bit{b}")
        for b in range(16)
    ])
    votes = per_tok.groupBy("doc_id").agg(
        *[F.sum(f"bit{b}").alias(f"s{b}") for b in range(16)],
        F.count(F.lit(1)).alias("n"),
    )
    sim = None
    for b in range(16):
        contrib = (F.col(f"s{b}") * 2 > F.col("n")).cast("bigint") * (1 << b)
        sim = contrib if sim is None else sim + contrib
    return votes.select("doc_id", sim.alias("simhash16"))


# Exact substring (maximal shared token span) dedup — Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better": find maximal
# duplicated token runs >= a floor across document PAIRS, not just
# set-similarity candidates. K-token fingerprints matched positionally, then
# merged into maximal spans along each (doc_a, doc_b) alignment diagonal.
_SUB_K = 8          # fingerprint width (tokens)
_SUB_DFCAP = 20     # fingerprints occurring more often are boilerplate
_SUB_MIN_SPAN = 12  # report spans at least this many tokens


# the span-construction CTE chain, shared by the spans query and the
# coverage metric's oracle (one definition -> the twins can't drift)
_SUB_SPANS_CTES = f"""WITH s0 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '')
               AS toks FROM documents),
    g AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+{_SUB_K - 1}], ' ')) AS gram
      FROM s0, LATERAL (SELECT unnest(generate_series(
               1, greatest(len(toks) - {_SUB_K} + 1, 0))) AS i) t),
    keep AS (SELECT gram FROM g GROUP BY gram
             HAVING COUNT(*) <= {_SUB_DFCAP}),
    gk AS (SELECT g.* FROM g JOIN keep USING (gram)),
    m AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    r AS (
      SELECT *, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a)
               AS rid
      FROM m),
    sp AS (
      SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
             MAX(pos_a) - MIN(pos_a) + {_SUB_K} AS span_len
      FROM r GROUP BY doc_a, doc_b, diag, rid)"""


@_q(
    "dedup_substr_spans",
    f"""{_SUB_SPANS_CTES}
    SELECT doc_a, doc_b, CAST(start_a AS BIGINT) AS start_a,
           CAST(start_b AS BIGINT) AS start_b,
           CAST(span_len AS BIGINT) AS span_len
    FROM sp WHERE span_len >= {_SUB_MIN_SPAN}
    ORDER BY span_len DESC, doc_a ASC, doc_b ASC, start_a ASC,
             start_b ASC""",
)
def dedup_substr_spans(spark, sf_dir):
    """Cross-document EXACT substring dedup (Lee et al. 2022): every maximal
    shared token run >= _SUB_MIN_SPAN tokens between any document pair, with
    1-based start positions in both. Set-similarity dedup (shingles/MinHash)
    answers "are these docs alike?"; this answers "WHICH text is copied?" —
    the operator behind span-level decontamination and quote removal.

    Shape: one narrow pass builds K-token rolling fingerprints INSIDE the
    array HOF (md5 over the joined window — positions come from the same
    sequence that windows the array, no token explode); fingerprints over
    the df-cap are dropped BEFORE the positional self-join (boilerplate
    K-grams would explode pairs quadratically, same discipline as
    dedup_shingle_pairs); matched positions collapse to maximal spans by the
    classic diagonal-runs trick — runs of consecutive pos_a on one
    (doc_a, doc_b, pos_a - pos_b) diagonal ARE the maximal spans, found
    with one window + one aggregate, both keyed on the pair (map-side
    combinable, no driver logic). At 100 TB every stage is bounded: gram
    rows ~ corpus tokens, pairs bounded by C(df_cap, 2) per fingerprint."""
    from pyspark.sql.window import Window

    docs = _fan_out(_t(spark, sf_dir, "documents"))
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    grams_arr = F.when(
        F.size(toks) >= _SUB_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - _SUB_K + 1),
            lambda i: F.md5(
                F.array_join(F.slice(toks, i, _SUB_K), " ")
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    g = docs.select(
        "doc_id", F.posexplode(grams_arr).alias("pos0", "gram")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
    keep = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= _SUB_DFCAP)
        .select("gram")
    )
    gk = g.join(keep, on="gram", how="left_semi").localCheckpoint(eager=True)
    a, b = gk.alias("a"), gk.alias("b")
    m = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
        )
        .distinct()
    )
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = m.withColumn(
        "rid", F.col("pos_a") - F.row_number().over(w)
    ).withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "rid")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + _SUB_K).alias("span_len"),
        )
        .where(F.col("span_len") >= _SUB_MIN_SPAN)
        .select(
            "doc_a", "doc_b",
            F.col("start_a").cast("bigint").alias("start_a"),
            F.col("start_b").cast("bigint").alias("start_b"),
            F.col("span_len").cast("bigint").alias("span_len"),
        )
        .orderBy(
            F.desc("span_len"), F.asc("doc_a"), F.asc("doc_b"),
            F.asc("start_a"), F.asc("start_b"),
        )
    )


@_q(
    "dedup_substr_coverage",
    f"""{_SUB_SPANS_CTES},
    spans AS (SELECT * FROM sp WHERE span_len >= {_SUB_MIN_SPAN}),
    cover AS (
      SELECT DISTINCT doc_b AS doc_id, p AS pos
      FROM spans, LATERAL (SELECT unnest(generate_series(
               start_b, start_b + span_len - 1)) AS p) t),
    nt AS (SELECT doc_id,
                  len(list_filter(string_split(text, ' '), t -> t <> ''))
                    AS n_tokens FROM documents),
    agg AS (SELECT doc_id, COUNT(*) AS n_dup FROM cover GROUP BY doc_id)
    SELECT a.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
           CAST(a.n_dup AS BIGINT) AS n_dup_tokens,
           CAST(a.n_dup * 1000000 // nt.n_tokens AS BIGINT) AS dup_frac_x1e6
    FROM agg a JOIN nt ON nt.doc_id = a.doc_id
    ORDER BY dup_frac_x1e6 DESC, a.doc_id ASC""",
)
def dedup_substr_coverage(spark, sf_dir):
    """Per-document copied-text accounting under the keep-first policy: for
    every doc that shares maximal spans with a LOWER-id doc, the number and
    fraction of its tokens covered by the union of those spans — the metric
    behind "drop docs that are >X% duplicated text" curation rules (RefinedWeb
    applies exactly this after exact-substring dedup).

    Shape: reuses dedup_substr_spans' bounded pipeline, then explodes each
    span to positions INSIDE sequence() (span count x span length rows —
    bounded by corpus tokens), distincts per (doc, pos) to union overlapping
    spans, and reduces to one row per affected doc. No new scan of text
    beyond the token-count projection."""
    spans = dedup_substr_spans(spark, sf_dir)
    cover = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("start_b"),
                    F.col("start_b") + F.col("span_len") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    agg = cover.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_tokens")
    )
    nt = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).cast("bigint").alias("n_tokens"),
    )
    return (
        agg.join(nt, on="doc_id")
        .select(
            "doc_id", "n_tokens",
            F.col("n_dup_tokens").cast("bigint").alias("n_dup_tokens"),
            F.expr(
                "CAST(n_dup_tokens * 1000000 DIV n_tokens AS BIGINT)"
            ).alias("dup_frac_x1e6"),
        )
        .orderBy(F.desc("dup_frac_x1e6"), F.asc("doc_id"))
    )


# =============================================================================
# Similarity search over embeddings
# =============================================================================

_EMB_CTE = (
    "WITH e AS (SELECT vec_id, unnest(embedding) AS x, "
    "generate_subscripts(embedding, 1) AS i FROM embeddings)"
)


def _rerank_sql(cte: str, src: str, k: int, group: str = "1") -> str:
    """Exact-cosine re-rank oracle tail (dot/na/nb): the candidates in
    ``src`` (``"cand c"`` or ``"short s"``) scored against query vector 0,
    top ``k`` by rounded cosine with vec_id tie-break."""
    alias = src.split()[1]
    return f"""{cte} AS (
      SELECT b.vec_id,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot,
             SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
             SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
      FROM e a
      JOIN e b ON a.i = b.i AND a.vec_id = 0
      JOIN {src} ON b.vec_id = {alias}.vec_id
      GROUP BY {group})
    SELECT vec_id, CAST(ROUND(dot / (na * nb) * 1e6) AS BIGINT) AS cos_x1e6
    FROM {cte} ORDER BY cos_x1e6 DESC, vec_id ASC LIMIT {k}"""


# Vector math runs as Arrow-batched pandas UDFs (numpy BLAS), NOT interpreted
# higher-order-function lambdas: F.aggregate/F.zip_with evaluate one
# interpreted expression tree per array element, ~100x slower than a
# vectorized batch for 64-dim math. (The "UDFs are the slow path" rule is
# about per-row Python; Arrow-batch numpy is the sanctioned fast path here.)
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

# pandas_udf registration needs an active session -> create lazily, memoized.
@functools.cache
def _norm_udf():
    @pandas_udf("double")
    def norm(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        return pd.Series(np.sqrt((m * m).sum(axis=1)))

    return norm


@functools.cache
def _dot_udf():
    @pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype("float64")
        mb = np.stack(b.to_numpy()).astype("float64")
        return pd.Series((ma * mb).sum(axis=1))

    return dot


def _cos(a: str, b: str):
    """Exact cosine of two array<double> columns (Arrow-batched numpy)."""
    return _dot_udf()(a, b) / (_norm_udf()(a) * _norm_udf()(b))


def _query_vec(emb: DataFrame) -> DataFrame:
    """The query vector (vec_id 0) as a one-row ``q_emb`` frame."""
    return emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )


def _cos_top(cand: DataFrame, k: int, *cols: str) -> DataFrame:
    """Exact-cosine re-rank: the top ``k`` candidates by rounded cosine of
    ``embedding`` against ``q_emb``, vec_id tie-break — the Spark twin of
    ``_rerank_sql``. ``cols`` ride along between vec_id and cos_x1e6."""
    cos = _cos("embedding", "q_emb")
    return (
        cand.select(
            "vec_id", *cols, F.round(cos * 1e6).cast("bigint").alias("cos_x1e6")
        )
        .orderBy(F.desc("cos_x1e6"), F.asc("vec_id"))
        .limit(k)
    )


@_q(
    "embed_norms",
    f"""{_EMB_CTE}
    SELECT vec_id,
           CAST(ROUND(SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 1e6) AS BIGINT)
             AS norm_x1e6
    FROM e GROUP BY vec_id""",
)
def embed_norms(spark, sf_dir):
    """L2 norms (scaled-int for float-safe hashing); Arrow-batched numpy."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        F.round(_norm_udf()("embedding") * 1e6).cast("bigint").alias("norm_x1e6"),
    )


@_q(
    "embed_topk_cosine",
    f"""{_EMB_CTE},
    dots AS (
      SELECT b.vec_id,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot,
             SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
             SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
      GROUP BY b.vec_id)
    SELECT vec_id, CAST(ROUND(dot / (na * nb) * 1e6) AS BIGINT) AS cos_x1e6
    FROM dots ORDER BY cos_x1e6 DESC, vec_id ASC LIMIT 10""",
)
def embed_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k (the ANN baseline): query = vec_id 0.

    Broadcast the query vector; Arrow-batched numpy dot/norm; Spark's
    TakeOrderedAndProject for the top-k (no full sort)."""
    emb = _t(spark, sf_dir, "embeddings")
    cand = _fan_out(emb.where(F.col("vec_id") != 0))
    return _cos_top(cand.crossJoin(F.broadcast(_query_vec(emb))), 10)


# =============================================================================
# Text analysis operators
# =============================================================================

@_q(
    "text_stats",
    f"""{_TOKS_CTE}
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT term) AS n_distinct,
           CAST(SUM(length(term)) * 100 // COUNT(*) AS BIGINT) AS avg_len_x100,
           CAST(SUM(CASE WHEN term IN {_STOP_SQL} THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS stop_x1000
    FROM toks GROUP BY doc_id""",
)
def text_stats(spark, sf_dir):
    """Token counting + quality signals: counts, distinct, avg token length,
    stopword ratio (scaled ints)."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
        F.expr("CAST(SUM(length(term)) * 100 DIV COUNT(*) AS BIGINT)").alias(
            "avg_len_x100"
        ),
        F.expr(
            f"CAST(SUM(CASE WHEN term IN {_STOP_SQL} THEN 1 ELSE 0 END) * 1000 "
            "DIV COUNT(*) AS BIGINT)"
        ).alias("stop_x1000"),
    )


@_q(
    "text_langid",
    f"""{_TOKS_CTE},
    v AS (SELECT doc_id,
                 SUM(CASE WHEN term IN ('the', 'a', 'of') THEN 1 ELSE 0 END) AS en_hits,
                 SUM(CASE WHEN term IN ('der', 'die', 'und') THEN 1 ELSE 0 END) AS de_hits,
                 SUM(CASE WHEN term IN ('le', 'la', 'et') THEN 1 ELSE 0 END) AS fr_hits
          FROM toks GROUP BY doc_id)
    SELECT doc_id,
           CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
                WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                WHEN fr_hits > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM v""",
)
def text_langid(spark, sf_dir):
    """Language-ID heuristic: stopword-list voting with a deterministic
    priority tie-break (en > de > fr > unknown)."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    hits = toks.groupBy("doc_id").agg(*_lang_hit_cols())
    pred = _lang_pred()
    return hits.select("doc_id", pred.alias("lang_pred"))


@_q(
    "text_fingerprint",
    f"""{_SHINGLE_CTE}
    SELECT doc_id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id""",
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: min-hash over word-3-gram shingles (winnowing-
    style content fingerprint, cross-engine-stable via md5)."""
    sh = ensure_shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(F.min(F.md5("shingle")).alias("fingerprint"))


# =============================================================================
# Event / relational operators (lifecycle + aggregation semantics coverage)
# =============================================================================

@_q(
    "events_by_type",
    """SELECT event_type, COUNT(*) AS n,
              CAST(ROUND(SUM(value) * 100) AS BIGINT) AS sum_value_x100
    FROM events GROUP BY event_type""",
)
def events_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value") * 100).cast("bigint").alias("sum_value_x100"),
    )


@_q(
    "events_top_users",
    """SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id ASC LIMIT 10""",
)
def events_top_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


@_q(
    "lineitem_pricing",
    """SELECT l_returnflag, l_linestatus,
              CAST(ROUND(SUM(l_quantity) * 100) AS BIGINT) AS sum_qty_x100,
              CAST(ROUND(SUM(l_extendedprice) * 100) AS BIGINT) AS sum_price_x100,
              COUNT(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def lineitem_pricing(spark, sf_dir):
    """TPC-H Q1-shaped aggregate — exercises multi-key groupBy with partial
    (map-side) aggregation; scaled-int sums for float-stable hashing."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity") * 100).cast("bigint").alias("sum_qty_x100"),
        F.round(F.sum("l_extendedprice") * 100).cast("bigint").alias("sum_price_x100"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_q(
    "orders_topk_revenue",
    """SELECT l.l_orderkey,
              CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                            AS BIGINT)) AS BIGINT) AS revenue_x10k,
              CAST(o.o_orderdate AS VARCHAR) AS orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_x10k DESC, l_orderkey ASC LIMIT 10""",
)
def orders_topk_revenue(spark, sf_dir):
    """TPC-H Q3-shaped shipping-priority query: top unshipped-revenue orders
    for one market segment — the multi-way dim->fact join leg of the
    analytics surface (customer |><| orders |><| lineitem + top-k).

    Scale shape: the segment-filtered customer side is small at test scale
    but GROWS with the corpus (TPC-H customer is linear in SF), so it
    carries NO forced broadcast hint — planner stats / AQE pick broadcast
    while it fits and fall back to shuffle when it doesn't; the
    orders->lineitem join keys both sides on orderkey (the fact table's
    natural partitioning at 100 TB, so co-located); revenue is summed as
    per-row scaled BIGINTs so partial aggregation order can never flip a
    hash bit; top-10 compiles to TakeOrderedAndProject, never a full
    sort."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.join(
            orders.join(
                cust.select(F.col("c_custkey").alias("o_custkey")),
                on="o_custkey",
            ).select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderdate",
                "o_orderpriority",
            ),
            on="l_orderkey",
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("bigint").alias("revenue_x10k"))
        .select(
            "l_orderkey",
            "revenue_x10k",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue_x10k"), F.asc("l_orderkey"))
        .limit(10)
    )


@_q(
    "events_asof_join",
    """WITH err AS (SELECT * FROM events WHERE event_type = 'error'),
    clk AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT err.event_id, err.user_id,
           COALESCE(clk.event_id, -1) AS prior_click_id,
           CAST(COALESCE(epoch_us(err.ts) - epoch_us(clk.ts), -1) AS BIGINT)
             AS gap_us
    FROM err ASOF LEFT JOIN clk
      ON err.user_id = clk.user_id AND err.ts >= clk.ts
    ORDER BY err.event_id ASC""",
)
def events_asof_join(spark, sf_dir):
    """As-of join: each error event matched to the SAME user's most recent
    click at-or-before it (left join — errors with no prior click keep
    NULLs). Spark has no ASOF JOIN operator; the scale-correct composition
    is union-the-two-streams + a running `last(..., ignorenulls)` window:
    ONE shuffle on user_id and a linear in-partition scan, where the naive
    range-join (err.ts >= clk.ts pair explosion, then argmax) is quadratic
    in per-user event count. The oracle is DuckDB's NATIVE ASOF LEFT JOIN,
    so the window composition is checked against a real asof
    implementation, not a SQL re-statement of itself. The window orders by
    (ts, event_id) — the streaming twin's explicit sort — so the result is
    deterministic even if a corpus ever carries equal-ts events for one
    user (this one guarantees uniqueness, but nothing enforces it)."""
    from pyspark.sql.window import Window

    ev = _fan_out(_t(spark, sf_dir, "events")).where(
        F.col("event_type").isin("error", "click")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_clk = F.col("event_type") == "click"
    run = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_clk, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("prior_click_id"),
        F.last(F.when(is_clk, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("prior_click_ts"),
    )
    return (
        run.where(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            # -1 sentinel instead of NULL on the no-prior-click rows: the
            # driver's value compare (and many downstream consumers) want
            # null-free numeric columns
            F.coalesce("prior_click_id", F.lit(-1)).alias("prior_click_id"),
            # events ship TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the
            # session TZ is UTC so the cast is value-preserving
            F.coalesce(
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prior_click_ts").cast("timestamp")),
                F.lit(-1),
            )
            .cast("bigint")
            .alias("gap_us"),
        )
        .orderBy(F.asc("event_id"))
    )


@_q(
    "events_range_join",
    """WITH err AS (SELECT event_id, user_id, epoch_us(ts) AS us
                    FROM events WHERE event_type = 'error'),
    clk AS (SELECT user_id, epoch_us(ts) AS us
            FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id,
           CAST(COUNT(c.us) AS BIGINT) AS n_clicks_5min
    FROM err e LEFT JOIN clk c
      ON c.user_id = e.user_id
     AND c.us >= e.us AND c.us < e.us + 300000000
    GROUP BY e.event_id, e.user_id
    ORDER BY e.event_id ASC""",
)
def events_range_join(spark, sf_dir):
    """Range join: clicks by the same user within the 5 minutes AFTER each
    error. Spark's planner turns a bare inequality join into a
    broadcast-nested-loop (O(n*m) comparisons); the scale shape is TIME-BIN
    BUCKETING: each error probes exactly the two 5-minute bins its window
    can overlap, the join runs as an equi-join on (user_id, bin), and the
    exact inequality filters inside the matched bins — per-pair work is
    bounded by per-(user, bin) density, not corpus size. The oracle is the
    naive inequality join in DuckDB, so the bucketing is proven
    lossless."""
    W_US = 300_000_000  # 5-minute window, microseconds
    ev = _fan_out(_t(spark, sf_dir, "events")).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    err = ev.where(F.col("event_type") == "error")
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("us").alias("c_us"),
        (F.col("us") / W_US).cast("bigint").alias("bin"),
    )
    # probe both bins the [us, us+W) window can overlap
    probes = err.select(
        "event_id",
        "user_id",
        "us",
        F.explode(
            F.array(
                (F.col("us") / W_US).cast("bigint"),
                (F.col("us") / W_US).cast("bigint") + 1,
            )
        ).alias("bin"),
    )
    # conditional count, NOT a row filter: an error whose bin-matched
    # clicks all fall outside the exact window must still appear with 0
    # (a filter would drop its every row and lose the left-join semantics)
    in_window = (F.col("c_us") >= F.col("us")) & (
        F.col("c_us") < F.col("us") + W_US
    )
    return (
        probes.join(clk, on=["user_id", "bin"], how="left")
        .groupBy("event_id", "user_id")
        .agg(
            F.count(F.when(in_window, F.lit(1)))
            .cast("bigint")
            .alias("n_clicks_5min")
        )
        .orderBy(F.asc("event_id"))
    )


@_q(
    "events_pivot",
    """SELECT CAST(date_trunc('day', ts) AS VARCHAR) AS day,
              CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
              CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY 1 ORDER BY day ASC LIMIT 30""",
)
def events_pivot(spark, sf_dir):
    """Wide daily report via pivot. The EXPLICIT value list matters at
    scale: ``.pivot(col)`` without values runs a hidden distinct scan of
    the whole corpus just to learn the column set — with values it is one
    scan + one map-side-combinable aggregate, same as the CASE-WHEN form
    the oracle states."""
    ev = _fan_out(_t(spark, sf_dir, "events"))
    return (
        ev.groupBy(
            # DuckDB's date_trunc('day', ts) yields a DATE -> 'yyyy-MM-dd'
            F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .pivot("event_type", ["click", "view", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "error"])
        .select(
            "day",
            F.col("click").cast("bigint").alias("click"),
            F.col("view").cast("bigint").alias("view"),
            F.col("error").cast("bigint").alias("error"),
        )
        .orderBy(F.asc("day"))
        .limit(30)
    )


@_q(
    "events_topn_per_group",
    """WITH tot AS (
      SELECT event_type, user_id,
             CAST(ROUND(SUM(value) * 100) AS BIGINT) AS total_x100
      FROM events GROUP BY event_type, user_id),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY total_x100 DESC, user_id ASC) AS rk
      FROM tot)
    SELECT event_type, user_id, total_x100, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 3
    ORDER BY event_type ASC, rk ASC""",
)
def events_topn_per_group(spark, sf_dir):
    """Per-group top-N (top 3 users by total value per event type): the
    aggregate shrinks the corpus to |types|x|users| rows BEFORE the window,
    so the rank partition is over the small aggregate, never raw events —
    the order matters at 100 TB (windowing raw events would sort the whole
    fact table). Scaled-int totals keep the ordering engine-exact."""
    from pyspark.sql.window import Window

    ev = _fan_out(_t(spark, sf_dir, "events"))
    tot = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value") * 100).cast("bigint").alias("total_x100")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("total_x100"), F.asc("user_id")
    )
    return (
        tot.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .orderBy(F.asc("event_type"), F.asc("rk"))
    )


@_q(
    "text_boilerplate_frac",
    f"""{_SHINGLE_CTE},
    df AS (SELECT shingle, COUNT(DISTINCT doc_id) AS d FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df.d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN df.d > 1 THEN 1 ELSE 0 END) * 1000 // COUNT(*)
                AS BIGINT) AS shared_x1000
    FROM sh JOIN df USING (shingle)
    GROUP BY sh.doc_id
    ORDER BY shared_x1000 DESC, doc_id ASC LIMIT 20""",
)
def text_boilerplate_frac(spark, sf_dir):
    """Sub-document boilerplate detection (the CCNet-style signal real
    pretraining pipelines use BELOW whole-doc dedup): per document, the
    fraction of its distinct word-3-gram shingles that also appear in at
    least one OTHER document — templated blurbs, headers, near-copied
    passages. Whole-doc near-dup (dedup_* family) emits PAIRS; this ranks
    each doc by how much of it is shared material, the strip/down-weight
    signal.

    Scale shape: shingles come from the ONE shared shingling rule
    (`_shingle_array`, same as the dedup family, so the oracle cannot
    drift); document frequency is a map-side-combinable distinct-aggregate;
    the fraction joins shingles back to their df on the shingle key (at
    100 TB: hash the shingle to a 16-byte digest before the join so the
    shuffle carries digests, not prose). Integer per-mille keeps the
    ranking engine-exact."""
    sh = ensure_shingles(spark, sf_dir)
    dfreq = sh.groupBy("shingle").agg(F.count_distinct("doc_id").alias("d"))
    return (
        sh.join(dfreq, on="shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.expr("CAST(n_shared * 1000 div n_shingles AS BIGINT)").alias(
                "shared_x1000"
            ),
        )
        .orderBy(F.desc("shared_x1000"), F.asc("doc_id"))
        .limit(20)
    )


@_q(
    "events_funnel",
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (SELECT user_id, MIN(us) AS u1 FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.us) AS u2
          FROM ev e JOIN v ON e.user_id = v.user_id AND e.us > v.u1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    r AS (SELECT e.user_id FROM ev e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'error' AND e.us > c.u2 GROUP BY e.user_id)
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'view>click>error', CAST(COUNT(*) AS BIGINT) FROM r)
    ORDER BY ord ASC""",
)
def events_funnel(spark, sf_dir):
    """Ordered-sequence funnel: users who viewed, then clicked AFTER the
    first view, then errored AFTER that click — the product-analytics
    staple whose naive form (3-way self-join on raw events) explodes.

    Scale shape: each stage is a conditional MIN per user — map-side
    combinable aggregates over the event scan — and the inter-stage
    ordering constraint joins the NEXT stage's events against the previous
    stage's one-row-per-user table (one narrow row per user), never
    event-against-event. No forced broadcast hint: per-user tables are
    unbounded at web scale (billions of users) — AQE broadcasts them when
    they actually fit. Timestamps compare as exact integer micros."""
    ev = _fan_out(_t(spark, sf_dir, "events")).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    # each stage table is one row per user (tiny); materialize it once —
    # it feeds BOTH its own count branch and the next stage's join, and the
    # three-branch union would otherwise recompute the chain per branch
    # (measured 12.6 s -> ~3.5 s warm at sf0.1; checkpointing the
    # events scan itself was measured SLOWER — the scan is cheap, the
    # per-user tables are what the union re-derives)
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("u1"))
        .localCheckpoint(eager=True)
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, on="user_id")
        .where(F.col("us") > F.col("u1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("u2"))
        .localCheckpoint(eager=True)
    )
    r = (
        ev.where(F.col("event_type") == "error")
        .join(c, on="user_id")
        .where(F.col("us") > F.col("u2"))
        .select("user_id")
        .distinct()
    )

    def _stage(df, ord_, name):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n_users")).select(
            F.lit(ord_).alias("ord"), F.lit(name).alias("stage"), "n_users"
        )

    return (
        _stage(v, 1, "view")
        .unionByName(_stage(c, 2, "view>click"))
        .unionByName(_stage(r, 3, "view>click>error"))
        .orderBy(F.asc("ord"))
        .select("stage", "n_users")
    )


# =============================================================================
# flagship
# =============================================================================

def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """entry() target: who-references over the documents corpus."""
    return kg_who_references(spark, sf_dir)


# =============================================================================
# Call-chain paths (Q17 analog: find_function_call_chain)
# =============================================================================

@_q(
    "kg_call_chain",
    f"""{_ADJ_CTE.replace("WITH pos", "WITH RECURSIVE pos")},
    r AS (
      SELECT 'spark' AS term, 'spark' AS path, 0 AS hops
      UNION ALL
      SELECT adj.dst, r.path || '->' || adj.dst, r.hops + 1
      FROM r JOIN adj ON adj.src = r.term
      WHERE r.hops < 3 AND r.term <> 'scan'
        AND position(adj.dst IN r.path) = 0)
    SELECT path, hops FROM r WHERE term = 'scan'
    ORDER BY hops ASC, path ASC LIMIT 10""",
)
def kg_call_chain(spark, sf_dir):
    """Bounded simple-path enumeration 'spark' -> 'scan' over the term
    adjacency graph (reference ``code_finder.py:495-520`` shortestPath with
    depth cap, ordered by length, LIMIT 10): the kernel's simple_paths,
    which carries the path as an array column and prunes cycles with
    array_contains. The frontier is tiny (dictionary-sized) regardless of
    corpus size — the scale-bearing work is the adjacency derivation, which
    is checkpointed exactly once (otherwise each of the 3 frontier joins
    would recompute the full corpus scan)."""
    adj = pin(_adjacency(_t(spark, sf_dir, "documents")))
    term = lambda t: spark.createDataFrame([(t,)], "node string")  # noqa: E731
    return (
        simple_paths(adj, term("spark"), term("scan"), 3)
        .select(
            F.array_join("path", "->").alias("path"),
            (F.size("path") - 1).alias("hops"),
        )
        .orderBy(F.asc("hops"), F.asc("path"))
        .limit(10)
    )


# =============================================================================
# Embedding near-dup + LSH-bucketed ANN
# =============================================================================

@_q(
    "dedup_embed_cosine",
    f"""{_EMB_CTE},
    d AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot,
             SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
             SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2)
    SELECT vec_a, vec_b, CAST(ROUND(dot / (na * nb) * 1e6) AS BIGINT) AS cos_x1e6
    FROM d WHERE dot / (na * nb) >= 0.35""",
)
def dedup_embed_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos >= 0.35 on this synthetic data)
    via a BLOCK-MATRIX self-join: vectors are hashed into _NB_BLOCKS blocks,
    each of the (B*(B+1))/2 block pairs ships both blocks to one task, and the
    task runs one numpy GEMM (normalized rows -> the full cosine submatrix),
    emitting only above-threshold pairs.

    This is the 100 TB shape for all-pairs similarity: per-task work is a
    dense BLAS matmul on two bounded blocks (block size = the memory knob),
    shuffle volume is n_vectors * B rows instead of n^2 pair rows, and skew
    is impossible because blocks are hash-balanced. The exhaustive scan is
    the recall baseline; embed_ann_lsh's bucketing is the sub-linear path."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def gemm(same, lhs, rhs):
        ml = np.stack(lhs["embedding"].to_numpy()).astype("float64")
        mr = np.stack(rhs["embedding"].to_numpy()).astype("float64")
        ml /= np.linalg.norm(ml, axis=1, keepdims=True)
        mr /= np.linalg.norm(mr, axis=1, keepdims=True)
        cos = ml @ mr.T
        ia, jb = np.nonzero(cos >= 0.35)
        va = lhs["vec_id"].to_numpy()[ia]
        vb = rhs["vec_id"].to_numpy()[jb]
        if same:  # same block appears on both sides: keep lower triangle
            keep = va < vb
            ia, jb, va, vb = ia[keep], jb[keep], va[keep], vb[keep]
        cs = cos[ia, jb]
        return pd.DataFrame({
            "vec_a": np.minimum(va, vb),
            "vec_b": np.maximum(va, vb),
            "cos_x1e6": np.rint(cs * 1e6).astype("int64"),
        })

    return _block_pair_grid(
        spark, emb, gemm, "vec_a long, vec_b long, cos_x1e6 long"
    )


_NB_BLOCKS = 8


def _block_pair_grid(spark, emb: DataFrame, tile, schema: str) -> DataFrame:
    """Block-pair GEMM self-join of (vec_id, embedding): vectors hash into
    _NB_BLOCKS blocks, each of the B*(B+1)/2 block pairs ships both blocks
    to one task, and ``tile(same_block, lhs, rhs)`` turns the two blocks'
    pandas rows into output rows of ``schema``. A pair with an empty side
    emits nothing."""
    v = emb.withColumn("blk", (F.col("vec_id") % _NB_BLOCKS).cast("int"))
    bp = spark.createDataFrame(
        [(i, j) for i in range(_NB_BLOCKS) for j in range(i, _NB_BLOCKS)],
        "pi int, pj int",
    )
    left = v.join(F.broadcast(bp), v["blk"] == bp["pi"]).select(
        "pi", "pj", F.lit("L").alias("side"), "vec_id", "embedding"
    )
    right = v.join(F.broadcast(bp), v["blk"] == bp["pj"]).select(
        "pi", "pj", F.lit("R").alias("side"), "vec_id", "embedding"
    )
    cols = [c.split()[0] for c in schema.split(", ")]

    def grid(key, pdf):
        lhs = pdf[pdf["side"] == "L"]
        rhs = pdf[pdf["side"] == "R"]
        if len(lhs) == 0 or len(rhs) == 0:
            return pd.DataFrame({c: [] for c in cols})
        return tile(key[0] == key[1], lhs, rhs)

    return (
        left.unionByName(right)
        .groupBy("pi", "pj")
        .applyInPandas(grid, schema)
    )


def _block_dsq(same, lhs, rhs, emit) -> None:
    """Exact int64 squared-L2 distance submatrix of two blocks over
    round(x*1000) components; ``emit(ids_a, ids_b, d)`` sees it from the
    left block and, unless both sides are one block, from the right."""
    ml = np.rint(np.stack(lhs["embedding"].to_numpy()) * 1000.0).astype(np.int64)
    mr = np.rint(np.stack(rhs["embedding"].to_numpy()) * 1000.0).astype(np.int64)
    il = lhs["vec_id"].to_numpy()
    ir = rhs["vec_id"].to_numpy()
    d = (
        (ml * ml).sum(axis=1)[:, None]
        + (mr * mr).sum(axis=1)[None, :]
        - 2 * (ml @ mr.T)
    )
    emit(il, ir, d)
    if not same:  # the R block's points also need this tile's distances
        emit(ir, il, d.T)


# Deterministic sign-projection hyperplanes (4 planes x 64 dims of +-1 derived
# from md5 parity — same constants on the Spark and DuckDB sides).
import hashlib as _hashlib  # noqa: E402

_LSH_PLANES = [
    [
        1.0 if int(_hashlib.md5(f"{b}:{i}".encode()).hexdigest()[0], 16) < 8 else -1.0
        for i in range(64)
    ]
    for b in range(4)
]
_HP_SQL = ", ".join(
    f"({b}, {i + 1}, {s})"
    for b, plane in enumerate(_LSH_PLANES)
    for i, s in enumerate(plane)
)
_PLANES_NP = np.array(_LSH_PLANES)  # (n_planes, 64)


@functools.cache
def _lsh_bucket_udf():
    @pandas_udf("long")
    def lsh_bucket(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        bits = (m @ _PLANES_NP.T) > 0  # sign of each plane projection
        weights = 1 << np.arange(bits.shape[1])
        return pd.Series((bits * weights).sum(axis=1).astype("int64"))

    return lsh_bucket


@_q(
    "embed_ann_lsh",
    f"""{_EMB_CTE},
    hp AS (SELECT * FROM (VALUES {_HP_SQL}) AS t(b, i, s)),
    proj AS (
      SELECT e.vec_id, hp.b, SUM(CAST(e.x AS DOUBLE) * hp.s) AS dot
      FROM e JOIN hp ON e.i = hp.i GROUP BY 1, 2),
    buck AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN POW(2, b) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY 1),
    qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
    probes AS (SELECT DISTINCT xor(qb.bucket, t.v) AS bucket
               FROM qb, (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128),
                                (256),(512),(1024),(2048),(4096),(8192),
                                (16384),(32768)) t(v)),
    cand AS (SELECT bk.vec_id FROM buck bk JOIN probes p ON bk.bucket = p.bucket
             WHERE bk.vec_id <> 0),
    {_rerank_sql("d", "cand c", 5)}""",
)
def embed_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN with MULTIPROBE (the scale path next to
    embed_topk_cosine's brute force): sign-random-projection buckets (16
    planes); the query probes its own bucket plus the 16 Hamming-1
    neighbors (a vector near a hyperplane lands one flipped bit away — the
    classic multiprobe recall rescue, ~17x candidates for 2^16/17 of the
    scan). Probe buckets are ENUMERATED so the candidate lookup stays an
    equi-join on the bucket column — at 100 TB bucket is the partition
    key and each probe is a partition-pruned point lookup, never a
    bit_count scan over every signature. Exact cosine re-rank inside the
    probed buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id", "embedding", _lsh_bucket_udf()("embedding").alias("bucket")
    )
    flips = F.array(*[F.lit(0)] + [F.lit(1 << j) for j in range(16)])
    q = (
        bucketed.where(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("q_emb"),
            F.explode(flips).alias("_flip"),
            F.col("bucket").alias("q_bucket"),
        )
        .select(
            "q_emb", F.col("q_bucket").bitwiseXOR(F.col("_flip")).alias("bucket")
        )
    )
    cand = bucketed.where(F.col("vec_id") != 0).join(F.broadcast(q), on="bucket")
    return _cos_top(cand, 5)


_IVF_K = 8       # inverted-file cells (deterministic seed centroids)
_IVF_NPROBE = 2  # cells probed per query

# IVF cell assignment (cents/sims/assign): every vector's nearest seed
# centroid by rounded cosine, ties to the lowest cent_id.
_IVF_ASSIGN_CTE = f"""cents AS (SELECT vec_id AS cent_id, i, x FROM e WHERE vec_id < {_IVF_K}),
    sims AS (
      SELECT e.vec_id, c.cent_id,
             CAST(ROUND(SUM(CAST(e.x AS DOUBLE) * CAST(c.x AS DOUBLE))
               / (SQRT(SUM(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)))
                  * SQRT(SUM(CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE))))
               * 1e6) AS BIGINT) AS cos_x1e6
      FROM e JOIN cents c ON e.i = c.i
      GROUP BY 1, 2),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_x1e6 DESC, cent_id ASC) AS rn
        FROM sims) WHERE rn = 1)"""


def _round_half_away(x):
    """SQL ROUND rounds halves AWAY FROM ZERO; np.rint rounds half-to-even
    — an exact x.5 cosine would diverge between engines otherwise."""
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def _seed_centroids(emb: DataFrame, k: int) -> "np.ndarray":
    """Row-normalized K x dim float64 centroid matrix from the first K
    vectors. Tiny driver collect by design: K centroid vectors (the
    "model", the stand-in for a k-means|| training pass), not data — the
    same role as a broadcast dimension table."""
    cents = np.stack(
        [
            r["embedding"]
            for r in emb.where(F.col("vec_id") < k).orderBy("vec_id").collect()
        ]
    ).astype("float64")
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def _assign_cell_udf(cn: "np.ndarray"):
    """Arrow-batched nearest-centroid assignment against the broadcast
    normalized centroid matrix ``cn``. Rounds cosine to 1e6 BEFORE the
    argmax and breaks ties on the lowest cent_id (np.argmax returns the
    first max), exactly like the oracle's ORDER BY cos_x1e6 DESC,
    cent_id ASC — so the inverted file is float-order-independent."""

    @pandas_udf("int")
    def assign_cell(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        cos = _round_half_away(m @ cn.T * 1e6)
        return pd.Series(np.argmax(cos, axis=1).astype("int32"))

    return assign_cell


@_q(
    "embed_ann_ivf",
    f"""{_EMB_CTE},
    {_IVF_ASSIGN_CTE},
    probe AS (SELECT cent_id FROM sims WHERE vec_id = 0
              ORDER BY cos_x1e6 DESC, cent_id ASC LIMIT {_IVF_NPROBE}),
    cand AS (SELECT a.vec_id FROM assign a JOIN probe p USING (cent_id)
             WHERE a.vec_id <> 0),
    {_rerank_sql("d", "cand c", 10)}""",
)
def embed_ann_ivf(spark, sf_dir):
    """IVF-style ANN (the coarse-quantizer scale path next to embed_ann_lsh's
    hyperplane buckets): assign every vector to its nearest of K seed
    centroids (an inverted file keyed by cell), probe the NPROBE cells
    nearest the query, exact cosine re-rank only within probed cells.

    Centroids are the first K vectors (deterministic seed selection — the
    stand-in for a k-means|| training pass, which would be a separate MLlib
    job at scale; the assign/probe/re-rank dataflow is identical either way).
    Cell assignment rounds cosine to 1e6 BEFORE the argmax and breaks ties
    on the lowest cent_id on BOTH the Spark and DuckDB sides, so the
    inverted file is float-order-independent.

    At 100 TB: the K x dim centroid matrix broadcasts to every task (a few
    KB); assignment is one narrow Arrow-batched pass; `cell` becomes the
    inverted file's partition key so a probe scans ~NPROBE/K of the corpus.
    Reference analog: CodeGraphContext has no vector search; this implements
    the task addendum's IVF variant."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    cn = _seed_centroids(emb, _IVF_K)
    assign_cell = _assign_cell_udf(cn)

    # Probe cells for the query vector (vec_id 0): numpy on the driver over
    # the same broadcast centroid matrix.
    qcos = _round_half_away(cn @ cn[0] * 1e6)
    order = np.lexsort((np.arange(_IVF_K), -qcos))  # cos desc, cent_id asc
    probe_cells = [int(c) for c in order[:_IVF_NPROBE]]

    cand = emb.withColumn("cell", assign_cell("embedding")).where(
        F.col("cell").isin(probe_cells) & (F.col("vec_id") != 0)
    )
    return _cos_top(cand.crossJoin(F.broadcast(_query_vec(emb))), 10)


# =============================================================================
# Text: BPE-ish tokenization + quality score
# =============================================================================

@_q(
    "text_token_bpe",
    """WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS toks
      FROM documents)
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens FROM t""",
)
def text_token_bpe(spark, sf_dir):
    """BPE-ish token counting: alpha runs, digit runs, and single
    punctuation marks as separate tokens (regexp, fully JVM-side)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")
    return docs.select(
        "doc_id", F.size(toks).cast("bigint").alias("n_bpe_tokens")
    )


@_q(
    "text_quality",
    f"""{_TOKS_CTE},
    m AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(length(term)) AS chars,
             SUM(CASE WHEN term IN {_STOP_SQL} THEN 1 ELSE 0 END) AS stops,
             SUM(CASE WHEN regexp_matches(term, '^[A-Za-z]+$') THEN 1 ELSE 0 END)
               AS alpha
      FROM toks GROUP BY doc_id)
    SELECT doc_id,
           CAST(LEAST(n_tokens, 200) * 2
                + alpha * 300 // n_tokens
                + CASE WHEN stops * 100 // n_tokens BETWEEN 2 AND 40
                       THEN 300 ELSE 0 END AS BIGINT) AS quality_x1000
    FROM m""",
)
def text_quality(spark, sf_dir):
    """Document quality score (integer-stable): length credit (<=400) +
    alpha-token ratio (<=300) + in-band stopword-ratio bonus (300) — the
    filter column a pretraining pipeline thresholds on."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    return _moments(toks).select(
        "doc_id",
        F.expr(_QUALITY_SQL).alias("quality_x1000"),
    )


# =============================================================================
# Multimodal binary-column plumbing (stubbed decode, real Spark path)
# =============================================================================

@_q(
    "mm_decode_meta",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS INT) AS n_bytes,
              md5(text) AS checksum,
              CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
              CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height,
              'stub-v1' AS decoder
    FROM documents WHERE text IS NOT NULL""",
)
def mm_decode_meta(spark, sf_dir):
    """Multimodal decode plumbing: text bytes stand in for an opaque media
    blob; mapInPandas (Arrow-batched) runs the (stubbed) decoder and emits
    typed feature columns. The oracle recomputes the deterministic fake
    features in SQL. See functions/multimodal.py for the real-decoder seam."""
    from ..functions.multimodal import decode_stage

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return decode_stage(docs)


@_q(
    "mm_frame_sample",
    """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS n
                  FROM documents),
    f AS (SELECT doc_id, text, n,
                 unnest(generate_series(
                   0, CAST(CEIL(n / 256.0) AS BIGINT) - 1, 4)) AS frame_idx
          FROM b WHERE n > 0),
    s AS (SELECT doc_id, frame_idx,
                 md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5,
                 CAST(LEAST(256, n - frame_idx * 256) AS INT) AS frame_bytes,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY frame_idx) AS rn
          FROM f)
    SELECT doc_id, frame_idx, frame_md5, frame_bytes FROM s WHERE rn <= 16""",
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling (video keyframe-extraction analog): each blob explodes
    into <= 16 sampled 256-byte "frames" (every 4th), one typed row per frame
    with the frame's md5 — the mapInPandas fan-out stage a multimodal
    training pipeline runs before per-frame featurization. The real decoder
    seam is functions/multimodal.py ``sample_frames_real``; the byte-slice
    sampler is the deterministic stand-in. The oracle recomputes the slices
    with char-based substring, byte-identical ONLY while the documents text
    is pure ASCII — a precondition pinned by
    tests/test_driver_contract.py::test_documents_are_ascii (DuckDB has no
    blob substring/md5, so a non-ASCII corpus needs a different oracle)."""
    from ..functions.multimodal import frame_sample_stage

    docs = _fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return frame_sample_stage(docs)


@_q(
    "mm_byte_features",
    """WITH b AS (SELECT doc_id, upper(hex(encode(text))) AS h
                  FROM documents WHERE octet_length(encode(text)) > 0),
    d AS (SELECT doc_id, h,
                 unnest(['0','1','2','3','4','5','6','7',
                         '8','9','A','B','C','D','E','F']) AS dig
          FROM b),
    c AS (SELECT doc_id, length(h) AS tot,
                 length(h) - length(replace(h, dig, '')) AS cnt
          FROM d),
    e AS (SELECT doc_id, tot,
                 SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS nd,
                 SUM(CASE WHEN cnt > 0
                     THEN -(cnt * 1.0 / tot) * log2(cnt * 1.0 / tot)
                     ELSE 0 END) AS ent
          FROM c GROUP BY doc_id, tot)
    SELECT doc_id, CAST(tot // 2 AS INT) AS n_bytes,
           CAST(nd AS INT) AS n_distinct_nibbles,
           CAST(ROUND(ent * 1e6) AS BIGINT) AS nibble_entropy_x1e6
    FROM e""",
)
def mm_byte_features(spark, sf_dir):
    """Blob feature extraction WITHOUT a decoder: Shannon entropy + distinct
    symbol count over each blob's 4-bit nibble distribution (numpy bincount
    per Arrow batch). This is the real — not stubbed — multimodal
    feature-extract leg: a curation pipeline routes opaque payloads on
    exactly these statistics (high entropy = compressed/encrypted, low =
    structured) before paying for a decode. The oracle recomputes the nibble
    histogram in SQL from the hex expansion (16 replace-scans), entropy
    scaled to int x1e6 for float-safe hashing."""
    from ..functions.multimodal import byte_features_stage

    docs = _fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return byte_features_stage(docs)


@_q(
    "mm_resize_meta",
    """WITH d AS (SELECT doc_id,
                 CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
                 CAST((octet_length(encode(text)) * 7) % 480 AS INT)
                   AS fake_height
          FROM documents)
    SELECT doc_id, fake_width, fake_height,
           CAST(CASE WHEN GREATEST(fake_width, fake_height) = 0 THEN 0
                ELSE fake_width * 224 // GREATEST(fake_width, fake_height)
                END AS INT) AS out_width,
           CAST(CASE WHEN GREATEST(fake_width, fake_height) = 0 THEN 0
                ELSE fake_height * 224 // GREATEST(fake_width, fake_height)
                END AS INT) AS out_height,
           'stub-v1' AS resizer
    FROM d""",
)
def mm_resize_meta(spark, sf_dir):
    """Image-resize preprocessing analog: decode (stub) -> aspect-preserving
    fit of each image's dims into 224x224 (long side -> 224, floor division),
    chained mapInPandas stages sharing one Arrow pass. The pixel resample is
    an explicit seam (``resize_image_real``); the dimension math — the part a
    training pipeline's bookkeeping depends on — is real and oracle-checked,
    including the degenerate 0-width blobs the stub decoder produces every
    640th byte length."""
    from ..functions.multimodal import decode_stage, resize_stage

    docs = _fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return resize_stage(
        decode_stage(docs).select("doc_id", "fake_width", "fake_height")
    )


# =============================================================================
# Aggregation-semantics coverage: COLLECT (Q10 shape) + time bucketing
# =============================================================================

@_q(
    "kg_doc_terms",
    f"""{_MENT_CTE}
    SELECT doc_id, string_agg(term, ',' ORDER BY term) AS terms
    FROM mentions GROUP BY doc_id""",
)
def kg_doc_terms(spark, sf_dir):
    """COLLECT semantics (reference ``code_finder.py:287-291`` collects import
    structs per file): per-doc sorted dictionary-term list, serialized so the
    cross-engine value hash is order-stable."""
    m = _mentions(_t(spark, sf_dir, "documents"))
    return m.groupBy("doc_id").agg(
        F.array_join(F.sort_array(F.collect_set("term")), ",").alias("terms")
    )


@_q(
    "kg_search_regex",
    """SELECT doc_id, lang FROM documents
    WHERE regexp_matches(text, '(hash|merge) (join|sort)')
    ORDER BY doc_id ASC""",
)
def kg_search_regex(spark, sf_dir):
    """regex name search (Q3 analog, reference code_finder.py:46-58 uses
    `=~ '(?i).*term.*'`): documents matching a regex, rlike on the JVM side
    (pushed into the scan filter) with a RE2-compatible pattern so the
    DuckDB twin evaluates identically. The alternation pattern matches ~20%
    of the driver corpus, so the oracle row is exercised on real rows (the
    earlier 'sort(ed|ing)' pattern matched zero — a trivially-green check)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("text").rlike("(hash|merge) (join|sort)"))
        .select("doc_id", "lang")
        .orderBy(F.asc("doc_id"))
    )


@_q(
    "kg_search_scored",
    f"""{_TOKS_CTE},
    hits AS (
      SELECT doc_id, COUNT(DISTINCT term) AS n_hit
      FROM toks WHERE term IN ('merge', 'window', 'hash') GROUP BY doc_id)
    SELECT h.doc_id,
           CAST(h.n_hit * 100 - CASE WHEN d.lang <> 'en' THEN 20 ELSE 0 END
                AS BIGINT) AS relevance
    FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    ORDER BY relevance DESC, h.doc_id ASC LIMIT 15""",
)
def kg_search_scored(spark, sf_dir):
    """Token-overlap relevance scoring (the full-text-index upgrade promised
    in SURVEY §7.3: reference orders search results by Lucene score,
    graph_builder.py:81-85 / code_finder.py:22): score = number of distinct
    query terms present in the document (matched via the token inverted
    index), minus the non-primary-language penalty — replacing the static
    per-branch weights of kg_rank_fusion with a per-document score."""
    docs = _t(spark, sf_dir, "documents")
    q_terms = ["merge", "window", "hash"]
    hits = (
        _tokens(docs)
        .where(F.col("term").isin(q_terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_hit"))
    )
    relevance = (
        F.col("n_hit") * 100
        - F.when(F.col("lang") != "en", 20).otherwise(0)
    ).cast("bigint")
    return (
        hits.join(docs.select("doc_id", "lang"), on="doc_id")
        .select("doc_id", relevance.alias("relevance"))
        .orderBy(F.desc("relevance"), F.asc("doc_id"))
        .limit(15)
    )


# Fuzzy (typo-tolerant) search: pg_trgm-style padded character trigrams.
# Padding with two leading spaces and one trailing space ('  term ') makes
# shared prefixes/suffixes count — 'fliter' vs 'filter' scores 0.40 padded
# but only 0.14 raw, so padded trigram Jaccard separates typos (>=0.3) from
# unrelated words (<0.1) where raw trigrams cannot.
_FUZZY_NEEDLES = ["fliter", "streem", "windw", "qery"]
_FUZZY_MIN_J = 250_000  # Jaccard * 1e6
_FUZZY_TOPK = 5


def _padded_grams(col):
    """Distinct padded character 3-grams; same rule in both engines."""
    from ..pipeline.canon import grams_expr

    return grams_expr(F.concat(F.lit("  "), col, F.lit(" ")))


def fuzzy_rank(
    df: DataFrame,
    name_col: str,
    needles: list[str],
    min_j: int,
    topk: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-needle top-k fuzzy matches of ``df[name_col]`` by padded-trigram
    Jaccard (scaled *_x1e6 bigint). Shared by kg_search_fuzzy (corpus
    vocabulary), kg_graph_fuzzy_names (graph entity names) and the CLI
    ``fuzzy`` query type.

    Scale shape: the needle list broadcast-crosses the candidate table, so
    scoring is one narrow JVM pass (trigram HOFs + array_intersect, zero
    Python); the per-needle window only sees rows past the threshold.
    Output columns: needle, <df columns>, jaccard_x1e6, rnk."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    ndf = spark.createDataFrame([(n,) for n in needles], "needle string")
    scored = (
        df.crossJoin(F.broadcast(ndf))
        .withColumn("_tg", _padded_grams(F.col(name_col)))
        .withColumn("_ng", _padded_grams(F.col("needle")))
        .withColumn(
            "jaccard_x1e6",
            F.expr(
                "CAST(size(array_intersect(_ng, _tg)) * 1000000 DIV "
                "(size(_ng) + size(_tg) - size(array_intersect(_ng, _tg))) "
                "AS BIGINT)"
            ),
        )
        .drop("_tg", "_ng")
        .where(F.col("jaccard_x1e6") >= min_j)
    )
    order = [F.desc("jaccard_x1e6")]
    if tiebreak_col:
        order.append(F.desc(tiebreak_col))
    order.append(F.asc(name_col))
    w = Window.partitionBy("needle").orderBy(*order)
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= topk)
    )


_FUZZY_NEEDLES_SQL = ", ".join(f"('{n}')" for n in _FUZZY_NEEDLES)
_FUZZY_GRAMS_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(length('  ' || {c} || ' ') - 2, 1) + 1), "
    "i -> substr('  ' || {c} || ' ', i, 3)))"
)


# Shared oracle prefix for fuzzy term search: vocab -> needle scoring ->
# per-needle ranking. kg_search_fuzzy appends the top-k projection;
# search_fuzzy_eval appends the MRR/rank audit against the truth map.
_FUZZY_RANKED_CTE = f"""{_TOKS_CTE},
    vocab AS (
      SELECT term, COUNT(DISTINCT doc_id) AS n_docs FROM toks
      WHERE term <> '' GROUP BY term),
    needles AS (SELECT * FROM (VALUES {_FUZZY_NEEDLES_SQL}) AS t(needle)),
    scored AS (
      SELECT n.needle, v.term, v.n_docs,
             CAST(len(list_intersect(
                    {_FUZZY_GRAMS_SQL.format(c='n.needle')},
                    {_FUZZY_GRAMS_SQL.format(c='v.term')})) * 1000000
                  // (len({_FUZZY_GRAMS_SQL.format(c='n.needle')})
                      + len({_FUZZY_GRAMS_SQL.format(c='v.term')})
                      - len(list_intersect(
                          {_FUZZY_GRAMS_SQL.format(c='n.needle')},
                          {_FUZZY_GRAMS_SQL.format(c='v.term')})))
                  AS BIGINT) AS jaccard_x1e6
      FROM needles n CROSS JOIN vocab v),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY needle
               ORDER BY jaccard_x1e6 DESC, n_docs DESC, term ASC) AS rnk
      FROM scored WHERE jaccard_x1e6 >= {_FUZZY_MIN_J})"""


@_q(
    "kg_search_fuzzy",
    f"""{_FUZZY_RANKED_CTE}
    SELECT needle, term, n_docs, jaccard_x1e6, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_FUZZY_TOPK}
    ORDER BY needle ASC, rnk ASC""",
)
def kg_search_fuzzy(spark, sf_dir):
    """Typo-tolerant term search (the reference's Lucene fuzzy index,
    graph_builder.py:81-85 + code_finder.py:18-30: `~` edit-distance
    queries over entity names): for each misspelled needle, the closest
    vocabulary terms by padded-trigram Jaccard, top-k per needle.

    Scale shape: ONE token explode -> map-side-combinable vocab aggregate
    (|vocab| rows, ~millions at web scale — tiny next to the corpus); the
    handful of needles broadcast-cross the vocab so scoring is a narrow
    scan-fused pass (trigram HOFs + array_intersect, all JVM-side, zero
    Python); the per-needle top-k window partitions by needle, so the final
    shuffle carries only rows already past the Jaccard threshold. An
    inverted gram->term index would subline the scan for interactive QPS;
    for batch fuzzy lookup the single narrow pass is the right plan."""
    docs = _t(spark, sf_dir, "documents")
    # per-doc dedup INSIDE the array HOF before exploding: the shuffle then
    # carries one (doc, term) row per distinct pair and a plain map-side-
    # combinable count replaces the two-phase COUNT(DISTINCT) — measured
    # 16 s -> ~2 s at sf0.1, same value as the oracle's COUNT(DISTINCT)
    vocab = (
        _fan_out(docs)
        .select(
            F.explode(
                F.array_distinct(
                    F.filter(F.split("text", " "), lambda t: t != "")
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        fuzzy_rank(
            vocab, "term", _FUZZY_NEEDLES, _FUZZY_MIN_J, _FUZZY_TOPK,
            tiebreak_col="n_docs",
        )
        .select("needle", "term", "n_docs", "jaccard_x1e6", "rnk")
        .orderBy(F.asc("needle"), F.asc("rnk"))
    )


@_q(
    "kg_search_fuzzy_idx",
    f"""{_TOKS_CTE},
    vocab AS (
      SELECT term, COUNT(DISTINCT doc_id) AS n_docs FROM toks
      WHERE term <> '' GROUP BY term),
    needles AS (SELECT * FROM (VALUES {_FUZZY_NEEDLES_SQL}) AS t(needle)),
    ngrams AS (
      SELECT needle, unnest({_FUZZY_GRAMS_SQL.format(c='needle')}) AS gram
      FROM needles),
    tgrams AS (
      SELECT term, unnest({_FUZZY_GRAMS_SQL.format(c='term')}) AS gram
      FROM vocab),
    cand AS (
      SELECT DISTINCT n.needle, t.term
      FROM tgrams t JOIN ngrams n ON t.gram = n.gram),
    scored AS (
      SELECT c.needle, c.term, v.n_docs,
             CAST(len(list_intersect(
                    {_FUZZY_GRAMS_SQL.format(c='c.needle')},
                    {_FUZZY_GRAMS_SQL.format(c='c.term')})) * 1000000
                  // (len({_FUZZY_GRAMS_SQL.format(c='c.needle')})
                      + len({_FUZZY_GRAMS_SQL.format(c='c.term')})
                      - len(list_intersect(
                          {_FUZZY_GRAMS_SQL.format(c='c.needle')},
                          {_FUZZY_GRAMS_SQL.format(c='c.term')})))
                  AS BIGINT) AS jaccard_x1e6
      FROM cand c JOIN vocab v ON v.term = c.term),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY needle
               ORDER BY jaccard_x1e6 DESC, n_docs DESC, term ASC) AS rnk
      FROM scored WHERE jaccard_x1e6 >= {_FUZZY_MIN_J})
    SELECT needle, term, n_docs, jaccard_x1e6, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_FUZZY_TOPK}
    ORDER BY needle ASC, rnk ASC""",
)
def kg_search_fuzzy_idx(spark, sf_dir):
    """Inverted-gram-index fuzzy search — the interactive-QPS scale path
    next to kg_search_fuzzy's full-vocab scan (the same brute-vs-indexed
    pairing as embed_topk_cosine vs embed_ann_lsh): the vocabulary's padded
    trigrams form a gram->term inverted index; a query touches only the
    posting lists of ITS OWN ~|needle| grams, so candidate generation reads
    a fixed number of index partitions instead of scanning every term. The
    candidate filter is LOSSLESS above any positive threshold (Jaccard > 0
    requires a shared gram), so results are identical to the scan — pinned
    by a pytest equality check.

    Scale shape: the index explode is one narrow pass (built once, reusable
    across queries in a real deployment — here rebuilt per call); the
    needle grams broadcast into the posting-list semi-join; exact scoring
    runs only on the candidate set. At a 10^8-term vocabulary the scan
    variant reads every term per query; this reads ~30 posting lists."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    vocab = (
        _fan_out(docs)
        .select(
            F.explode(
                F.array_distinct(
                    F.filter(F.split("text", " "), lambda t: t != "")
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .localCheckpoint(eager=True)  # index + score both read it
    )
    needles = spark.createDataFrame(
        [(n,) for n in _FUZZY_NEEDLES], "needle string"
    )
    tgrams = vocab.select(
        "term", F.explode(_padded_grams(F.col("term"))).alias("gram")
    )
    ngrams = needles.select(
        "needle", F.explode(_padded_grams(F.col("needle"))).alias("gram")
    )
    cand = (
        tgrams.join(F.broadcast(ngrams), on="gram")
        .select("needle", "term")
        .distinct()
    )
    scored = (
        cand.join(vocab, on="term")
        .withColumn("_tg", _padded_grams(F.col("term")))
        .withColumn("_ng", _padded_grams(F.col("needle")))
        .withColumn(
            "jaccard_x1e6",
            F.expr(
                "CAST(size(array_intersect(_ng, _tg)) * 1000000 DIV "
                "(size(_ng) + size(_tg) - size(array_intersect(_ng, _tg))) "
                "AS BIGINT)"
            ),
        )
        .where(F.col("jaccard_x1e6") >= _FUZZY_MIN_J)
    )
    w = Window.partitionBy("needle").orderBy(
        F.desc("jaccard_x1e6"), F.desc("n_docs"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _FUZZY_TOPK)
        .select("needle", "term", "n_docs", "jaccard_x1e6", "rnk")
        .orderBy(F.asc("needle"), F.asc("rnk"))
    )


# Analyzer-style stemmed search: the Lucene StandardAnalyzer+stemmer leg of
# the reference's full-text index (graph_builder.py:81-85) — a query for
# 'sorting' must hit documents containing 'sort'. One suffix-strip rule,
# shared VERBATIM by both engines; alternatives ordered longest-first so
# Java-regex (leftmost-first) and RE2 (leftmost-longest) agree on every term.
_STEM_RE = "(ing|ed|es|s)$"
_STEM_NEEDLES = ["sorting", "filters", "hashes", "streams", "joining", "quasars"]
_STEM_NEEDLES_SQL = ", ".join(f"('{n}')" for n in _STEM_NEEDLES)


@_q(
    "kg_search_stem",
    f"""WITH doc_stems AS (
      SELECT DISTINCT doc_id,
             regexp_replace(term, '{_STEM_RE}', '') AS stem
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents) WHERE term <> ''),
    needles AS (
      SELECT needle, regexp_replace(needle, '{_STEM_RE}', '') AS stem
      FROM (VALUES {_STEM_NEEDLES_SQL}) AS t(needle))
    SELECT n.needle, n.stem, COUNT(d.doc_id) AS n_docs
    FROM needles n LEFT JOIN doc_stems d ON d.stem = n.stem
    GROUP BY n.needle, n.stem ORDER BY n.needle ASC""",
)
def kg_search_stem(spark, sf_dir):
    """Stemmed (analyzer-tokenized) search: how many documents match each
    inflected query term after both sides pass the same suffix-strip
    stemmer — the reference's Lucene analyzer behavior, where 'sorting'
    finds code named 'sort'. Needles with no corpus hits still report 0
    (left join), the contract a search UI needs.

    Scale shape: stem + in-row dedup run INSIDE the array HOF before the
    explode (one narrow scan pass), so the single shuffle carries distinct
    (doc, stem) pairs; the needle dimension broadcasts; count is map-side
    combinable. No full-vocab materialization, no second shuffle."""
    docs = _t(spark, sf_dir, "documents")
    stem = lambda c: F.regexp_replace(c, _STEM_RE, "")  # noqa: E731
    doc_stems = _fan_out(docs).select(
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter(F.split("text", " "), lambda t: t != ""),
                    lambda t: F.regexp_replace(t, _STEM_RE, ""),
                )
            )
        ).alias("stem")
    )
    needles = spark.createDataFrame(
        [(n,) for n in _STEM_NEEDLES], "needle string"
    ).withColumn("stem", stem(F.col("needle")))
    hits = doc_stems.join(F.broadcast(needles), on="stem")
    # the aggregate is provably <= |needles| rows, so broadcasting it is
    # always safe — and keeps the zero-hit left join off the shuffle path
    # (statically planned; no SMJ for AQE to rescue)
    agg = F.broadcast(
        hits.groupBy("needle", "stem").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        needles.join(agg, on=["needle", "stem"], how="left")
        .select(
            "needle", "stem",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
        )
        .orderBy(F.asc("needle"))
    )


@_q(
    "text_len_quantiles",
    """SELECT lang,
              COUNT(*) AS n_docs,
              CAST(ROUND(quantile_cont(n_chars, 0.25) * 1e6) AS BIGINT) AS p25_x1e6,
              CAST(ROUND(quantile_cont(n_chars, 0.50) * 1e6) AS BIGINT) AS p50_x1e6,
              CAST(ROUND(quantile_cont(n_chars, 0.75) * 1e6) AS BIGINT) AS p75_x1e6,
              CAST(ROUND(quantile_cont(n_chars, 0.95) * 1e6) AS BIGINT) AS p95_x1e6
    FROM documents GROUP BY lang""",
)
def text_len_quantiles(spark, sf_dir):
    """Corpus profiling: per-language exact interpolated length quantiles
    (the distribution check a training-data pipeline runs before setting
    length filters). Spark's `percentile` and DuckDB's `quantile_cont` share
    linear-interpolation semantics, so the twin matches to the bit; at
    100 TB swap `percentile` for `percentile_approx` (same plan shape, one
    pass, mergeable sketches) and widen the oracle tolerance."""
    q = F.expr("percentile(n_chars, array(0.25, 0.5, 0.75, 0.95))")
    agg = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), q.alias("_q"))
    )
    cols = ["p25_x1e6", "p50_x1e6", "p75_x1e6", "p95_x1e6"]
    return agg.select(
        "lang",
        "n_docs",
        *[
            F.round(F.element_at("_q", i + 1) * 1e6).cast("bigint").alias(c)
            for i, c in enumerate(cols)
        ],
    )


@_q(
    "events_rollup",
    """SELECT COALESCE(event_type, '<all>') AS event_type,
              COALESCE(strftime(ts, '%Y-%m'), '<all>') AS month,
              COUNT(*) AS n,
              CAST(ROUND(SUM(value) * 100) AS BIGINT) AS sum_value_x100
    FROM events
    GROUP BY GROUPING SETS ((event_type, strftime(ts, '%Y-%m')),
                            (event_type), (strftime(ts, '%Y-%m')), ())""",
)
def events_rollup(spark, sf_dir):
    """Multi-granularity aggregate via GROUPING SETS (type x month, each
    margin, grand total) — the reporting shape over event streams; Catalyst
    expands grouping sets into a single shuffle with an Expand node (one
    pass over the input, partial aggregation preserved)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM").alias("month"),
        "value",
    )
    return (
        ev.groupingSets(
            [["event_type", "month"], ["event_type"], ["month"], []],
            "event_type",
            "month",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") * 100).cast("bigint").alias(
                "sum_value_x100"
            ),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("month", F.lit("<all>")).alias("month"),
            "n",
            "sum_value_x100",
        )
    )


@_q(
    "events_sessions",
    """WITH s AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess
      FROM s)
    SELECT user_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_s,
           CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS session_end_s,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(COALESCE(value, 0)) * 100) AS BIGINT)
             AS sum_value_x100
    FROM g GROUP BY user_id, sess""",
)
def events_sessions(spark, sf_dir):
    """Batch gap-sessionization over the events table (every session incl.
    open tails — pure relational semantics; the streaming operator in
    streaming/sessionize.py shares this exact twin, so the stateful stream
    is pinned transitively). Lag-window session boundary + running-sum
    session id: both map-side-free window shapes partition cleanly by
    user_id at any scale. Timestamps exported as epoch seconds and value
    sums as x100 bigints so the cross-engine value hash is float-free."""
    from ..streaming.sessionize import sessionize_batch_twin

    s = sessionize_batch_twin(_t(spark, sf_dir, "events"), include_open=True)
    return s.select(
        "user_id",
        F.col("session_start").cast("timestamp").cast("long").alias(
            "session_start_s"
        ),
        F.col("session_end").cast("timestamp").cast("long").alias(
            "session_end_s"
        ),
        "n_events",
        F.round(F.col("sum_value") * 100).cast("bigint").alias(
            "sum_value_x100"
        ),
    )


@_q(
    "events_daily",
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
              CAST(ROUND(SUM(value) * 100) AS BIGINT) AS sum_value_x100
    FROM events GROUP BY 1, 2""",
)
def events_daily(spark, sf_dir):
    """Time-bucketed aggregate (the events-table analog of watcher-era
    activity metrics): day x type counts with partial aggregation. Day is a
    string on both sides (pandas date-vs-timestamp types would hash-differ)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value") * 100).cast("bigint").alias("sum_value_x100"),
    )


# =============================================================================
# Training-data curation extensions (round 2): split / contamination / sampling
# =============================================================================

# Benchmark shingles for the contamination check — stands in for the eval-set
# n-gram index a real pipeline builds from held-out benchmarks. Small by
# nature (benchmarks are ~MBs), so it ships as a broadcast/literal predicate.
_BENCH_SHINGLES = [
    "key agg row",
    "hash value table",
    "merge batch part",
    "the line sort",
]
_BENCH_SQL = "(" + ", ".join(f"'{s}'" for s in _BENCH_SHINGLES) + ")"


@_q(
    "curate_split",
    """SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f' THEN 'val'
            ELSE 'test' END AS split
    FROM documents""",
)
def curate_split(spark, sf_dir):
    """Deterministic train/val/test assignment — the split step every
    training-data pipeline needs. Hash-based (first md5 hex nibble of the
    doc id: 13/16 train, 2/16 val, 1/16 test) so the assignment is stable
    under reruns, independent of row order and partitioning, and needs no
    shuffle at all: a narrow map fused into the scan, no sampling state.
    At 100 TB this is the only split construction that is both reproducible
    and embarrassingly parallel."""
    docs = _t(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return docs.select(
        "doc_id",
        F.when(nib < "d", "train")
        .when(nib < "f", "val")
        .otherwise("test")
        .alias("split"),
    )


@_q(
    "text_contamination",
    f"""{_SHINGLE_CTE}
    SELECT doc_id, COUNT(*) AS n_hits FROM sh
    WHERE shingle IN {_BENCH_SQL}
    GROUP BY doc_id""",
)
def text_contamination(spark, sf_dir):
    """Benchmark-contamination check: documents sharing a word-3-gram with
    the held-out benchmark set, with the number of distinct matching
    shingles. The benchmark filter runs INSIDE the array HOF (narrow map,
    whole-stage codegen), so only contaminated shingles ever become rows —
    the corpus-side cost is one scan regardless of corpus size, and the
    only shuffle is the groupBy over the (tiny) hit set. With a larger
    benchmark index the literal predicate becomes a broadcast semi-join on
    the exploded shingles; the df-capped pair machinery of
    dedup_shingle_pairs is NOT needed because the benchmark side is fixed
    and small."""
    docs = _fan_out(_t(spark, sf_dir, "documents"))
    sh = _shingle_array(F.split("text", " "))
    hits = F.filter(
        F.array_distinct(sh), lambda s: s.isin(_BENCH_SHINGLES)
    )
    return (
        docs.select("doc_id", F.explode(hits).alias("shingle"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@_q(
    "sample_stratified",
    """SELECT lang, COUNT(*) AS n_sampled,
              CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) = '7'
    GROUP BY lang""",
)
def sample_stratified(spark, sf_dir):
    """Deterministic ~1/16 stratified sample summary per language — the
    down-sampling step of corpus curation, made reproducible the same way
    as curate_split (hash nibble, independent of row order/partitioning;
    the SECOND nibble so the sample is independent of the split
    assignment). No sampling RNG, no driver state: the predicate fuses
    into the scan and the per-lang rollup is a map-side-combinable
    aggregation over ~5 groups."""
    docs = _t(spark, sf_dir, "documents")
    nib2 = F.substring(F.md5(F.col("doc_id").cast("string")), 2, 1)
    return (
        docs.where(nib2 == "7")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("chars_sampled"),
        )
    )


# Max docs per LSH bucket admitted to the pair join: a hot bucket (boilerplate
# surface shared by millions of pages at web scale) is EXCLUDED rather than
# exploded into C(n,2) pairs — same df-cap discipline as dedup_shingle_pairs.
_CC_BUCKET_CAP = 64

@_q(
    "dedup_cc_clusters",
    f"""{_SHINGLE_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
    {_SIG_CTE},
    bands AS ({_BANDS_SQL}),
    bsz AS (SELECT band, sig_v, COUNT(*) AS n FROM bands GROUP BY band, sig_v),
    bok AS (SELECT b.band, b.sig_v, b.doc_id FROM bands b
            JOIN bsz USING (band, sig_v) WHERE n BETWEEN 2 AND {_CC_BUCKET_CAP}),
    pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM bok x JOIN bok y
              ON x.band = y.band AND x.sig_v = y.sig_v
                 AND x.doc_id < y.doc_id),
    e2 AS (SELECT a AS s, b AS d FROM pairs
           UNION ALL SELECT b AS s, a AS d FROM pairs),
    reach(src, dst) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM e2) u
      UNION
      SELECT r.src, e.d FROM reach r JOIN e2 e ON e.s = r.dst),
    cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
           FROM reach GROUP BY src)
    SELECT a.doc_id, COALESCE(cl.cluster_id, a.doc_id) AS cluster_id
    FROM agg a LEFT JOIN cl USING (doc_id)
    ORDER BY doc_id ASC""",
)
def dedup_cc_clusters(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT: the end product of MinHash-LSH dedup
    (reference's dedup story stops at pairs; a curation pipeline needs the
    doc -> canonical-representative map to actually drop duplicates).
    Candidate pairs come from the LSH buckets (bucket size capped at
    _CC_BUCKET_CAP so a web-scale boilerplate bucket can never explode into
    C(n,2) pairs); connected components reuse the pipeline's
    `connected_components` (pipeline/canon.py:139): driver union-find under
    100k pairs, and above that a min-label-propagation DataFrame loop where
    each iteration is ONE shuffle join + a map-side-combinable groupBy(min)
    with `localCheckpoint` truncating lineage — exact CC either way,
    matching the oracle's recursive reachability closure. The label table
    is 2 narrow columns per clustered doc — at 100 TB it partitions on
    doc_id and never touches text. Singletons keep their own id via the
    final left join against the signature universe.

    The map itself is materialized once per (application, sf tier) via
    ensure_clusters — dedup_cluster_stats / curate_canonical /
    curate_leakage read the same materialization instead of recomputing
    the LSH+CC chain (VERDICT r04 item 4)."""
    return ensure_clusters(spark, sf_dir).orderBy(F.asc("doc_id"))


def _cc_cluster_map(spark, sf_dir) -> DataFrame:
    """The unordered doc -> cluster_id map behind ensure_clusters."""
    # The signature table (5 narrow columns per doc) feeds the band table,
    # both sides of the bucket self-join, and the final universe join —
    # without the ensure_minhash_sig materialization the shingle+minhash
    # subplan is re-evaluated ~5x (measured 25 s -> 7 s at sf0.1). Same
    # discipline a 100 TB run uses: signatures are written before pairing.
    sig = ensure_minhash_sig(spark, sf_dir)
    bands = _sig_bands(sig)
    bsz = bands.groupBy("band", "sig_v").agg(F.count(F.lit(1)).alias("n"))
    bok = (
        bands.join(bsz, ["band", "sig_v"])
        .where(F.col("n").between(2, _CC_BUCKET_CAP))
        .select("band", "sig_v", "doc_id")
        .localCheckpoint(eager=True)
    )
    x, y = bok.alias("x"), bok.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig_v") == F.col("y.sig_v"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    # Reuse the pipeline's connected_components (pipeline/canon.py:139):
    # driver-side union-find under 100k pairs, min-label-propagation
    # DataFrame loop above it — the documented small/web-scale cutover.
    # It min-labels over STRINGS, so encode the int doc ids as fixed-width
    # zero-padded strings (lexicographic min == numeric min) and decode the
    # labels back to bigint after.
    from ..pipeline.canon import connected_components

    pad = lambda c: F.lpad(c.cast("string"), 12, "0")  # noqa: E731
    spairs = pairs.select(pad(F.col("a")).alias("a"), pad(F.col("b")).alias("b"))
    sverts = (
        spairs.select(F.col("a").alias("surface"))
        .unionByName(spairs.select(F.col("b").alias("surface")))
        .distinct()
    )
    labels = connected_components(sverts, spairs).select(
        F.col("surface").cast("bigint").alias("doc_id"),
        F.col("label").cast("bigint").alias("lbl"),
    )
    return (
        sig.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("cluster_id")
        )
    )


_TFIDF_TERMS = ("merge", "window", "hash")
_TFIDF_TERMS_SQL = "('merge', 'window', 'hash')"


# BM25 constants, pre-scaled by 1000 so both engines use pure integer math:
# k1 = 1.2 (term-frequency saturation), b = 0.75 (length normalization).
_BM25_K1 = 1200  # k1 * 1000
_BM25_K1P1 = 2200  # (k1 + 1) * 1000
_BM25_B = 750  # b * 1000
_BM25_1MB = 250  # (1 - b) * 1000


@_q(
    "kg_search_tfidf",
    f"""{_TOKS_CTE},
    hits AS (SELECT doc_id, term FROM toks WHERE term IN {_TFIDF_TERMS_SQL}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    stats AS (SELECT COUNT(*) AS n, SUM(len(string_split(text, ' '))) AS l
              FROM documents),
    w AS (SELECT term, (stats.n * 1000) // df.df AS w FROM df CROSS JOIN stats),
    norm AS (SELECT doc_id,
                    {_BM25_1MB} + ({_BM25_B} * len(string_split(text, ' '))
                                   * stats.n) // stats.l AS norm1000
             FROM documents CROSS JOIN stats)
    SELECT tf.doc_id,
           CAST(SUM(((tf.tf * {_BM25_K1P1} * 1000)
                     // (tf.tf * 1000 + ({_BM25_K1} * norm.norm1000) // 1000))
                    * w.w) AS BIGINT) AS relevance
    FROM tf JOIN w USING (term) JOIN norm USING (doc_id)
    GROUP BY tf.doc_id
    ORDER BY relevance DESC, doc_id ASC LIMIT 15""",
)
def kg_search_tfidf(spark, sf_dir):
    """BM25-ranked full-text search — the corpus-statistics upgrade of
    `kg_search_scored`'s flat hit counting (reference builds a Lucene
    full-text index and orders by BM25-family relevance,
    graph_builder.py:81-85 + code_finder.py:104-117). Per (doc, term):
    saturated_tf = tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)), weighted by
    idf = N/df — all in scaled-integer arithmetic (x1000), so the score is
    bit-identical across engines and parallelism (ln()/float division differ
    in the last ulp between runtimes; integer ratios don't). The k1
    saturation caps runaway term counts and the b term normalizes by doc
    length, so long documents no longer dominate rank 1 (pinned in
    tests/test_driver_contract.py::test_bm25_length_normalization).

    Scale shape: the query-term filter runs INSIDE the array HOF
    (filter-then-explode), so only query-term occurrences ever become rows —
    at web scale that is a vanishing fraction of tokens. tf is a
    map-side-combinable (doc, term) count carrying dl along as a constant
    per-doc key; df aggregates the distinct hit set (tiny); corpus stats
    (N, total length) are ONE scalar-agg row; the weight table is |query|
    rows and broadcasts into the final per-doc sum, which compiles to
    TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    kept = F.filter(
        F.split("text", " "), lambda t: t.isin(*_TFIDF_TERMS)
    )
    # Materialize the hit set ONCE: it feeds both the tf and the df branch,
    # and it is tiny (query-term occurrences only) — without this the full
    # text scan + HOF runs twice (measured 3.8 s -> ~2 s warm at sf0.1).
    # dl (doc token length) rides along: constant per doc, so grouping on
    # (doc_id, dl) stays map-side combinable with the same key cardinality.
    hits = (
        _fan_out(docs)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("dl"),
            F.explode(kept).alias("term"),
        )
        .localCheckpoint(eager=True)
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        hits.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n, total_len = docs.agg(
        F.count(F.lit(1)), F.sum(F.size(F.split("text", " ")))
    ).first()
    w = dfreq.select("term", F.expr(f"({n}L * 1000) div df").alias("w"))
    sat = F.expr(
        f"(tf * {_BM25_K1P1} * 1000) div "
        f"(tf * 1000 + ({_BM25_K1} * "
        f"({_BM25_1MB} + ({_BM25_B} * dl * {n}L) div {total_len}L)) div 1000)"
    )
    return (
        tf.join(F.broadcast(w), "term")
        .groupBy("doc_id")
        .agg(F.sum(sat * F.col("w")).cast("bigint").alias("relevance"))
        .orderBy(F.desc("relevance"), F.asc("doc_id"))
        .limit(15)
    )


# =============================================================================
# Sequence packing (training-batch composition)
# =============================================================================

_PACK_BUDGET = 2048   # tokens per packed sequence bin
_PACK_SHARDS = 8      # independent packing streams per language


@_q(
    "curate_pack_tokens",
    f"""WITH nt AS (
      SELECT doc_id, lang, doc_id % {_PACK_SHARDS} AS shard,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, lang, shard, n_tok,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl
      FROM nt)
    SELECT lang, CAST(shard AS BIGINT) AS shard,
           CAST(cum_excl // {_PACK_BUDGET} AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM c GROUP BY lang, shard, bin""",
)
def curate_pack_tokens(spark, sf_dir):
    """Sequence packing — assign documents to fixed-token-budget training
    bins (the batch-composition step between curation and tokenizer
    sharding in an LLM data pipeline). Docs are packed greedily in doc_id
    order within independent (lang, shard) streams: a doc lands in the bin
    its running-token-offset falls into (bin = floor(preceding_tokens /
    BUDGET)); a doc may straddle a boundary, which real packers handle by
    splitting at tokenization time — bin membership here records where each
    doc STARTS.

    Determinism: ordering is (doc_id) inside a (lang, doc_id % SHARDS)
    stream — no RNG, no partitioning sensitivity — so the DuckDB window
    twin matches exactly.

    Scale shape: the token count is a narrow JVM-side HOF fused into the
    scan; the only shuffle is the window's hash partition on (lang, shard).
    Each window partition holds corpus/|langs|/SHARDS docs — SHARDS is the
    explicit knob that bounds per-task state at 100 TB (raise it and each
    stream still packs independently: any partition of docs into streams is
    a valid packing). The final groupBy reuses the window's partitioning
    (no second exchange)."""
    from pyspark.sql import Window

    docs = _fan_out(_t(spark, sf_dir, "documents"))
    nt = docs.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).cast("bigint").alias("shard"),
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)"
        ).alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = nt.withColumn(
        "cum_excl", F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    )
    return (
        c.groupBy(
            "lang",
            "shard",
            F.expr(f"CAST(cum_excl div {_PACK_BUDGET} AS BIGINT)").alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
    )


@_q(
    "events_retention",
    """WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    cohort AS (
      SELECT user_id, MIN(day) AS c0 FROM act GROUP BY user_id),
    flags AS (
      SELECT cohort.user_id, cohort.c0,
             MAX(CASE WHEN date_diff('day', c0, day) = 1 THEN 1 ELSE 0 END)
               AS r1,
             MAX(CASE WHEN date_diff('day', c0, day) = 7 THEN 1 ELSE 0 END)
               AS r7
      FROM cohort JOIN act USING (user_id) GROUP BY cohort.user_id, cohort.c0)
    SELECT strftime(c0, '%Y-%m-%d') AS cohort_day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(r1) AS BIGINT) AS d1_retained,
           CAST(SUM(r7) AS BIGINT) AS d7_retained
    FROM flags GROUP BY c0""",
)
def events_retention(spark, sf_dir):
    """Cohort retention — the classic product-analytics rollup: users are
    cohorted by their first active day; D1/D7 retention counts how many were
    active exactly 1/7 days later. Day is a string on both sides (same
    reason as events_daily).

    Scale shape: ONE distinct over (user, day) — map-side combinable and
    tiny next to the raw stream — then a groupBy(user) for the cohort and a
    user-keyed join back; both stages hash-partition on user_id, so at
    100 TB the whole query reuses one partitioning and nothing wide ever
    materializes (the flags table is one row per user)."""
    ev = _t(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("c0"))
    flags = (
        cohort.join(act, "user_id")
        .groupBy("user_id", "c0")
        .agg(
            F.max(
                F.when(F.datediff("day", "c0") == 1, 1).otherwise(0)
            ).alias("r1"),
            F.max(
                F.when(F.datediff("day", "c0") == 7, 1).otherwise(0)
            ).alias("r7"),
        )
    )
    return flags.groupBy(
        F.date_format("c0", "yyyy-MM-dd").alias("cohort_day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("r1").cast("bigint").alias("d1_retained"),
        F.sum("r7").cast("bigint").alias("d7_retained"),
    )


@_q(
    "text_keywords",
    f"""{_TOKS_CTE},
    toks2 AS (SELECT doc_id, term FROM toks
              WHERE term <> '' AND term NOT IN {_STOP_SQL}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks2
           GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks2
           GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks2),
    scored AS (SELECT tf.doc_id, tf.term,
                      tf.tf * ((n.n * 1000) // df.df) AS score
               FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (SELECT doc_id, term, score,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term ASC)
                        AS rank
               FROM scored)
    SELECT doc_id, term AS keyword, CAST(score AS BIGINT) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3""",
)
def text_keywords(spark, sf_dir):
    """Keyword extraction — top-3 TF-IDF terms per document (the metadata-
    enrichment step a training pipeline runs to tag documents for mixture
    sampling; the per-doc complement of the query-driven kg_search_tfidf).
    IDF is the same scaled-integer rule as kg_search_tfidf (N*1000 // df,
    floor division in both engines) so scores are bit-exact at any
    parallelism; ties break on the term string.

    Scale shape: tf is a map-side-combinable groupBy(doc, term); df is a
    map-side-combinable distinct-agg per term; the scalar N arrives via a
    single-row cross join (broadcast). The df->tf join keys on term (at
    100 TB the df table is vocabulary-sized — orders below the corpus).
    The final window partitions by doc_id, bounded by per-doc distinct
    terms."""
    from pyspark.sql import Window

    toks = _tokens(_t(spark, sf_dir, "documents")).where(
        ~F.col("term").isin("the", "a")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = toks.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(n)
        .select(
            "doc_id",
            "term",
            F.expr("tf * ((n * 1000) div df)").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("term").alias("keyword"),
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# =============================================================================
# Repetition filtering (Gopher-style duplicate-ngram character fraction)
# =============================================================================

def _rep_oracle_ngram(n: int, out: str) -> str:
    """DuckDB CTE chain computing the duplicate-{n}gram char fraction. The
    oracle uses the explode+groupBy formulation (clarity over scale — it is
    the spec, not the plan); the Spark side computes the identical quantity
    with zero shuffle."""
    return f"""
    g{n} AS (SELECT doc_id,
                    unnest([array_to_string(a[i:i+{n - 1}], ' ')
                            for i in generate_series(1, len(a)-{n - 1})]) AS g
             FROM t),
    m{n} AS (SELECT doc_id, g, COUNT(*) AS c, LENGTH(g) AS l FROM g{n}
             GROUP BY doc_id, g),
    {out} AS (SELECT doc_id,
                     SUM(CASE WHEN c >= 2 THEN c * l ELSE 0 END) AS dup,
                     SUM(c * l) AS tot
              FROM m{n} GROUP BY doc_id)"""


def _rep_spark_expr(sorted_col: str) -> str:
    """Scaled duplicate-char fraction over a SORTED ngram array: an element
    belongs to a duplicate group iff it equals its sorted predecessor or
    successor (try_element_at is 1-based; IF keeps index 0 out of its
    domain — ANSI mode rejects it even for the try_ variant)."""
    s = sorted_col
    tot = f"aggregate({s}, 0L, (acc, x) -> acc + length(x))"
    dup = (
        f"aggregate(filter({s}, (x, i) -> "
        f"IF(i = 0, NULL, try_element_at({s}, i)) = x "
        f"OR try_element_at({s}, i + 2) = x), "
        f"0L, (acc, x) -> acc + length(x))"
    )
    return (
        f"CAST(CASE WHEN {tot} > 0 THEN {dup} * 1000 DIV {tot} "
        f"ELSE 0 END AS BIGINT)"
    )


@_q(
    "text_repetition",
    f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a
                   FROM documents),{_rep_oracle_ngram(2, "r2")},{_rep_oracle_ngram(3, "r3")}
    SELECT t.doc_id,
           CAST(COALESCE(r2.dup * 1000 // r2.tot, 0) AS BIGINT) AS rep2_x1000,
           CAST(COALESCE(r3.dup * 1000 // r3.tot, 0) AS BIGINT) AS rep3_x1000
    FROM t LEFT JOIN r2 USING (doc_id) LEFT JOIN r3 USING (doc_id)""",
)
def text_repetition(spark, sf_dir):
    """Gopher-rule repetition filter: per document, the fraction of
    characters covered by word {2,3}-grams that occur more than once inside
    that document (Rae et al. 2021 'repetition removal'; the filter that
    drops template/boilerplate-heavy webtext before pretraining). Scaled to
    x1000 integers, floor division on both engines.

    Scale shape: duplicate detection is WITHIN-document, so the whole
    computation stays inside array HOFs on the scan stage — build ngrams
    (transform over sequence), array_sort, count members of runs >= 2 via
    sorted-neighbor equality — emitting ONE row per doc with ZERO shuffles
    (no explode, no groupBy; at 100 TB this runs at scan speed). The
    oracle recomputes the same quantity via explode+groupBy."""
    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    d = docs.select("doc_id", F.split("text", " ").alias("a"))
    for n in (2, 3):
        d = d.withColumn(
            f"s{n}",
            F.expr(
                f"array_sort(CASE WHEN size(a) >= {n} THEN "
                f"transform(sequence(0, size(a) - {n}), "
                f"i -> concat_ws(' ', slice(a, i + 1, {n}))) "
                f"ELSE array() END)"
            ),
        )
    return d.select(
        "doc_id",
        F.expr(_rep_spark_expr("s2")).alias("rep2_x1000"),
        F.expr(_rep_spark_expr("s3")).alias("rep3_x1000"),
    )


# =============================================================================
# LM-likelihood scoring (CCNet-style model-based quality filtering)
# =============================================================================

@_q(
    "text_lm_score",
    """WITH t AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '')
                           AS a
                  FROM documents),
    g AS (SELECT doc_id,
                 unnest([a[i] || ' ' || a[i+1]
                         for i in generate_series(1, len(a)-1)]) AS g
          FROM t),
    dg AS (SELECT doc_id, g, COUNT(*) AS cg FROM g GROUP BY doc_id, g),
    m AS (SELECT g, SUM(cg) AS c12 FROM dg GROUP BY g),
    pre AS (SELECT string_split(g, ' ')[1] AS w1, SUM(c12) AS c1 FROM m
            GROUP BY w1),
    p AS (SELECT m.g, m.c12 * 1000000 // pre.c1 AS p
          FROM m JOIN pre ON string_split(m.g, ' ')[1] = pre.w1),
    s AS (SELECT dg.doc_id, SUM(dg.cg) AS nb, SUM(dg.cg * p.p) AS tot
          FROM dg JOIN p USING (g) GROUP BY dg.doc_id)
    SELECT t.doc_id,
           CAST(COALESCE(s.nb, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(s.tot // s.nb, 0) AS BIGINT) AS lm_x1e6
    FROM t LEFT JOIN s USING (doc_id)""",
)
def text_lm_score(spark, sf_dir):
    """Model-based quality scoring, CCNet-style (Wenzek et al. 2020): fit a
    bigram language model ON the corpus itself, then score each document by
    its mean conditional bigram probability P(w2|w1) — the 'does this look
    like the rest of the corpus' filter a pretraining pipeline thresholds
    on (low scorers are gibberish/boilerplate, extreme high scorers are
    repetitive templates). Probabilities are scaled-integer
    (c12 * 1e6 // c1) so both engines floor identically; the doc score is
    the cg-weighted floor mean.

    Scale shape: per-doc bigram counts (dg) are a map-side-combinable
    groupBy; the model (m, pre) is vocabulary²-bounded — orders below the
    corpus; the dg->model join keys on the bigram string (AQE broadcasts
    the model when it fits, plain shuffle join otherwise — no forced
    hint); the final per-doc agg is map-side combinable. No window, no
    driver state."""
    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    t = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("a"),
    )
    g = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 2 THEN transform("
                "sequence(0, size(a) - 2), "
                "i -> concat(a[i], ' ', a[i + 1])) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    dg = g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cg"))
    m = dg.groupBy("g").agg(F.sum("cg").alias("c12"))
    pre = (
        m.withColumn("w1", F.expr("split(g, ' ')[0]"))
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    p = (
        m.withColumn("w1", F.expr("split(g, ' ')[0]"))
        .join(pre, "w1")
        .select("g", F.expr("c12 * 1000000 DIV c1").alias("p"))
    )
    s = (
        dg.join(p, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("cg").alias("nb"),
            F.sum(F.expr("cg * p")).alias("tot"),
        )
    )
    return t.join(s, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("nb"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce(F.expr("tot DIV nb"), F.lit(0))
        .cast("bigint")
        .alias("lm_x1e6"),
    )


# =============================================================================
# PII scrubbing (C4-style redaction pass)
# =============================================================================

# The synthetic corpus is lowercase word-soup with no PII, so the operator
# is exercised over text || a deterministic per-doc contact footer that BOTH
# engines construct from doc_id with identical integer/string arithmetic
# (the mm_* precedent: the stand-in payload is synthesized in-query; what
# the oracle pins is the real machinery — here the cross-engine regex
# match/redaction semantics over 500 distinct strings). Real-PII behavior
# (multi-match, overlaps, boundary cases) is pinned by tests/test_pii.py
# through the same functions/pii.py surface.
_PII_FOOTER_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call ' || "
    "CAST(100 + doc_id % 900 AS VARCHAR) || '-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR)"
)


@_q(
    "text_pii_scrub",
    f"""WITH t AS (SELECT doc_id, text || {_PII_FOOTER_SQL} AS full_text
                   FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(full_text,
                 '\\b[0-9]{{3}}-[0-9]{{4}}\\b')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(full_text,
                 '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b'))
             AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(full_text,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<EMAIL>', 'g'),
                 '\\b[0-9]{{3}}-[0-9]{{4}}\\b', '<PHONE>', 'g'),
                 '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
                 '<IP>', 'g')) AS redacted_md5
    FROM t""",
)
def text_pii_scrub(spark, sf_dir):
    """PII scrub (C4-family redaction): count + redact emails, phone
    numbers, and IPv4 addresses, emitting the redacted text's md5. Runs
    the real functions/pii.py surface (regexp_extract_all /
    regexp_replace — JVM-side, whole-stage codegen, zero shuffles at any
    scale); the corpus rows are extended with a deterministic synthetic
    contact footer so every pattern actually fires (see _PII_FOOTER_SQL
    note)."""
    from ..functions.pii import pii_counts, pii_redact

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    footer = F.expr(
        "concat(' contact user', CAST(doc_id AS STRING), "
        "'@example.com or call ', CAST(100 + doc_id % 900 AS STRING), '-', "
        "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' at 10.', "
        "CAST(doc_id % 256 AS STRING), '.0.', "
        "CAST((doc_id * 7) % 256 AS STRING))"
    )
    t = docs.select(
        "doc_id", F.concat(F.col("text"), footer).alias("full_text")
    )
    c = F.col("full_text")
    return t.select(
        "doc_id",
        *[cnt.cast("bigint").alias(n) for cnt, n in zip(
            pii_counts(c), ("n_emails", "n_phones", "n_ips"))],
        F.md5(pii_redact(c)).alias("redacted_md5"),
    )


# =============================================================================
# Anomaly detection over the event stream (integer-exact z-score)
# =============================================================================

@_q(
    "events_anomaly",
    """WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                         COUNT(*) AS cnt
                  FROM events GROUP BY event_type, day),
    s AS (SELECT event_type, COUNT(*) AS n, SUM(cnt) AS tot,
                 SUM(cnt * cnt) AS sumsq
          FROM d GROUP BY event_type),
    z AS (SELECT d.event_type, d.day, d.cnt,
                 (d.cnt * s.n - s.tot) * (d.cnt * s.n - s.tot) AS num,
                 s.n * s.sumsq - s.tot * s.tot AS var_n2
          FROM d JOIN s USING (event_type))
    SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
           CAST(CASE WHEN var_n2 > 0 THEN num * 1000 // var_n2
                     ELSE 0 END AS BIGINT) AS z2_x1000,
           CAST(CASE WHEN var_n2 > 0 AND num > 4 * var_n2
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM z ORDER BY event_type, day""",
)
def events_anomaly(spark, sf_dir):
    """Daily volume anomaly detection per event type — the drift monitor a
    training-data ingestion pipeline runs over its event/telemetry stream.
    A day is anomalous when its count sits more than 2 population-stddevs
    from that type's daily mean; the z² test is pure integer arithmetic
    ((c*n - tot)² vs 4*(n*sumsq - tot²) — both engines compare exactly,
    no float stddev). The squared term stays inside bigint up to daily
    counts ~3e9 per type; beyond that, lift `num` to decimal(38,0) (both
    engines support it exactly).

    Scale shape: daily counts are a map-side-combinable groupBy over the
    raw events; per-type stats aggregate the tiny daily table; the
    stats-side of the join is |event_types| rows (AQE broadcasts it). No
    window over raw events, no driver state."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("tot"),
        F.sum(F.expr("cnt * cnt")).alias("sumsq"),
    )
    z = d.join(s, "event_type").select(
        "event_type",
        "day",
        "cnt",
        F.expr("(cnt * n - tot) * (cnt * n - tot)").alias("num"),
        F.expr("n * sumsq - tot * tot").alias("var_n2"),
    )
    return z.select(
        "event_type",
        "day",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.expr(
            "CAST(CASE WHEN var_n2 > 0 THEN num * 1000 DIV var_n2 "
            "ELSE 0 END AS BIGINT)"
        ).alias("z2_x1000"),
        F.expr(
            "CAST(CASE WHEN var_n2 > 0 AND num > 4 * var_n2 "
            "THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_anomaly"),
    ).orderBy("event_type", "day")


# =============================================================================
# Semantic dedup (SemDeDup-style: cluster, then dedup within cluster)
# =============================================================================

_SEM_T = 350000  # keep threshold: rounded cos_x1e6 >= T marks a semantic dup


@_q(
    "dedup_semantic",
    f"""{_EMB_CTE},
    {_IVF_ASSIGN_CTE},
    pr AS (SELECT a.vec_id AS va, b.vec_id AS vb
           FROM assign a JOIN assign b
             ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
    pc AS (
      SELECT pr.va, pr.vb,
             CAST(ROUND(SUM(CAST(ea.x AS DOUBLE) * CAST(eb.x AS DOUBLE))
               / (SQRT(SUM(CAST(ea.x AS DOUBLE) * CAST(ea.x AS DOUBLE)))
                  * SQRT(SUM(CAST(eb.x AS DOUBLE) * CAST(eb.x AS DOUBLE))))
               * 1e6) AS BIGINT) AS cos_x1e6
      FROM pr JOIN e ea ON ea.vec_id = pr.va
              JOIN e eb ON eb.vec_id = pr.vb AND eb.i = ea.i
      GROUP BY 1, 2),
    dup AS (SELECT DISTINCT vb FROM pc WHERE cos_x1e6 >= {_SEM_T})
    SELECT a.vec_id, CAST(a.cent_id AS BIGINT) AS cell,
           CAST(CASE WHEN d.vb IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_kept
    FROM assign a LEFT JOIN dup d ON d.vb = a.vec_id
    ORDER BY a.vec_id""",
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings to K seed centroids (the same deterministic assignment as
    embed_ann_ivf — rounded-cosine argmax, lowest-cell tie-break), then
    WITHIN each cell mark a vector as a duplicate if any lower-id
    cell-mate has rounded cosine >= T with it (greedy keep-first — the
    epsilon-dedup rule with a deterministic survivor). Pair search never
    leaves a cell, so the quadratic term is C(cell,2), not C(n,2).

    At 100 TB: K scales with the corpus (SemDeDup uses n/1e4-ish cells),
    keeping cell populations bounded, so the intra-cell pair join stays
    linear-ish in n; assignment is one Arrow-batched narrow pass against
    the broadcast centroid matrix; the pair join shuffles on cell then
    joins narrow (vec_id, cell) rows, re-attaching vectors only to
    admitted pairs (the dedup_cc_clusters discipline)."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    cn = _seed_centroids(emb, _IVF_K)
    assigned = emb.withColumn(
        "cell", _assign_cell_udf(cn)("embedding")
    ).localCheckpoint(eager=True)

    slim = assigned.select("vec_id", "cell")
    pairs = (
        slim.alias("a")
        .join(slim.alias("b"), "cell")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
    )
    cand = pairs.join(
        assigned.select(F.col("vec_id").alias("va"),
                        F.col("embedding").alias("ea")), "va"
    ).join(
        assigned.select(F.col("vec_id").alias("vb"),
                        F.col("embedding").alias("eb")), "vb"
    )
    cos = _cos("ea", "eb")
    dup = (
        cand.select("vb", F.round(cos * 1e6).cast("bigint").alias("c"))
        .where(F.col("c") >= _SEM_T)
        .select("vb")
        .distinct()
    )
    return (
        slim.join(dup, slim.vec_id == dup.vb, "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.when(F.col("vb").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_kept"),
        )
        .orderBy("vec_id")
    )


# =============================================================================
# Mixture sampling (source-balanced corpus composition)
# =============================================================================

@_q(
    "sample_mixture",
    """WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents
                  GROUP BY source),
    s AS (SELECT SUM(n_docs) AS tot, COUNT(*) AS k FROM n),
    r AS (SELECT n.source, n.n_docs,
                 LEAST(4096, ((s.tot // s.k) * 4096) // n.n_docs)
                   AS rate_x4096
          FROM n CROSS JOIN s),
    kept AS (SELECT d.source, COUNT(*) AS n_kept
             FROM documents d JOIN r USING (source)
             WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 3, 3))
                        AS INTEGER) < r.rate_x4096
             GROUP BY d.source)
    SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.rate_x4096 AS BIGINT) AS rate_x4096,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN kept USING (source)
    ORDER BY source""",
)
def sample_mixture(spark, sf_dir):
    """Source-balanced mixture sampling — the data-mixing step that
    composes a pretraining corpus from skewed sources: each source is
    down-sampled toward the mean source size (keep-rate =
    min(1, mean/n_s), i.e. temperature alpha->0 source balancing), so no
    single crawl dominates the mixture. The keep decision is the shared
    deterministic hash rule (md5 nibbles — the THIRD trio, independent of
    curate_split's nibble 1 and sample_stratified's nibble 2), in 1/4096
    granularity: reproducible under any partitioning, no sampling RNG.
    Rates are scaled-integer floor division on both engines; the hex
    parse is conv(,16,10) / CAST('0x..' ) — both exact.

    Scale shape: per-source counts are a map-side-combinable groupBy; the
    rate table is |sources| rows (AQE broadcasts it into the probe); the
    keep predicate fuses into the scan. No window, no driver state."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    s = n.agg(F.sum("n_docs").alias("tot"), F.count(F.lit(1)).alias("k"))
    r = n.crossJoin(s).select(
        "source",
        "n_docs",
        F.expr("LEAST(4096, ((tot DIV k) * 4096) DIV n_docs)").alias(
            "rate_x4096"
        ),
    )
    h3 = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 3, 3), 16, 10) "
        "AS BIGINT)"
    )
    kept = (
        docs.join(r.select("source", "rate_x4096"), "source")
        .where(h3 < F.col("rate_x4096"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        r.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("rate_x4096").cast("bigint").alias("rate_x4096"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


@_q(
    "sample_temperature",
    """WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents
                  GROUP BY source),
    w AS (SELECT source, n_docs,
                 CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1000000))
                      AS BIGINT) AS wgt
          FROM n),
    s AS (SELECT SUM(wgt) AS sw, SUM(n_docs) AS tot FROM w),
    r AS (SELECT w.source, w.n_docs, w.wgt,
                 CAST(w.wgt * 1000000 // s.sw AS BIGINT) AS share_ppm,
                 LEAST(4096, ((s.tot // 2) * w.wgt // s.sw) * 4096
                             // w.n_docs) AS rate_x4096
          FROM w CROSS JOIN s),
    kept AS (SELECT d.source, COUNT(*) AS n_kept
             FROM documents d JOIN r USING (source)
             WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 3, 3))
                        AS INTEGER) < r.rate_x4096
             GROUP BY d.source)
    SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
           CAST(r.share_ppm AS BIGINT) AS share_ppm,
           CAST(r.rate_x4096 AS BIGINT) AS rate_x4096,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
    FROM r LEFT JOIN kept USING (source)
    ORDER BY source""",
)
def sample_temperature(spark, sf_dir):
    """Temperature-scaled mixture sampling at T=2 (mT5 / multilingual-LM
    source mixing, Xue 2021): source s gets sampling share proportional to
    n_s^(1/T) = sqrt(n_s), the middle ground between natural proportions
    (T=1, head crawls dominate) and the uniform balancing of sample_mixture
    (T->inf analog). The total kept budget is half the corpus; per-source
    keep-rate = budget * share / n_s, decided by the same deterministic
    md5-nibble rule (third trio) in 1/4096 granularity — reproducible under
    any partitioning. Weights are floor(sqrt(n*1e6)) integers: IEEE sqrt is
    correctly rounded in both engines, so weights, shares, and rates are
    bit-identical with no float-summation-order exposure.

    Scale shape: identical to sample_mixture — one map-side-combinable
    per-source count, a |sources|-row rate table broadcast into the probe,
    keep predicate fused into the scan. No window, no driver state.

    Reference analog: none (curation addendum; pairs with sample_mixture /
    sample_stratified / curate.py's balance stage)."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = n.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE) * 1000000)) AS BIGINT)"
        ).alias("wgt"),
    )
    s = w.agg(F.sum("wgt").alias("sw"), F.sum("n_docs").alias("tot"))
    r = w.crossJoin(s).select(
        "source",
        "n_docs",
        F.expr("CAST(wgt * 1000000 DIV sw AS BIGINT)").alias("share_ppm"),
        F.expr(
            "LEAST(4096, ((tot DIV 2) * wgt DIV sw) * 4096 DIV n_docs)"
        ).alias("rate_x4096"),
    )
    h3 = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 3, 3), 16, 10) "
        "AS BIGINT)"
    )
    kept = (
        docs.join(r.select("source", "rate_x4096"), "source")
        .where(h3 < F.col("rate_x4096"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        r.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("share_ppm").cast("bigint").alias("share_ppm"),
            F.col("rate_x4096").cast("bigint").alias("rate_x4096"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


# =============================================================================
# K-means clustering over embeddings (exact-integer Lloyd iterations)
# =============================================================================

_KM_K = 8  # clusters; seed = the first K vectors (deterministic, like _IVF_K)


def _km_sql() -> str:
    """Unrolled 2-iteration Lloyd k-means as a DuckDB CTE chain. Quantizes
    each component to round(x * 1e6) int64 up front, so every distance is
    an exact integer (no float summation order) and every centroid update
    is floor(sum/count) — bit-identical to the Spark side regardless of
    partitioning. The FLOOR(double) form is exact while |sum| < 2^53; the
    100 TB variant swaps the cast for DECIMAL division."""
    dist = (
        "SELECT eq.vec_id, c.cent_id, "
        "CAST(SUM((eq.xq - c.xq) * (eq.xq - c.xq)) AS BIGINT) AS dist "
        "FROM eq JOIN {cents} c USING (i) GROUP BY 1, 2"
    )
    amin = (
        "SELECT vec_id, cent_id, dist FROM ("
        "SELECT vec_id, cent_id, dist, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn "
        "FROM {dists}) WHERE rn = 1"
    )
    upd = (
        "SELECT a.cent_id, eq.i, "
        "CAST(FLOOR(CAST(SUM(eq.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS xq "
        "FROM eq JOIN {assign} a ON eq.vec_id = a.vec_id GROUP BY 1, 2"
    )
    return f"""{_km_chain()}
    SELECT vec_id, CAST(cent_id AS BIGINT) AS cluster, dist
    FROM a3"""


def _km_chain() -> str:
    """The shared unrolled-Lloyd CTE chain ending at the final assignment
    CTE ``a3`` — reused by embed_kmeans and embed_kmeans_purity so both
    score the SAME clustering."""
    dist = (
        "SELECT eq.vec_id, c.cent_id, "
        "CAST(SUM((eq.xq - c.xq) * (eq.xq - c.xq)) AS BIGINT) AS dist "
        "FROM eq JOIN {cents} c USING (i) GROUP BY 1, 2"
    )
    amin = (
        "SELECT vec_id, cent_id, dist FROM ("
        "SELECT vec_id, cent_id, dist, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn "
        "FROM {dists}) WHERE rn = 1"
    )
    upd = (
        "SELECT a.cent_id, eq.i, "
        "CAST(FLOOR(CAST(SUM(eq.xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS xq "
        "FROM eq JOIN {assign} a ON eq.vec_id = a.vec_id GROUP BY 1, 2"
    )
    return f"""{_EMB_CTE},
    eq AS (SELECT vec_id, i,
                  CAST(ROUND(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
           FROM e),
    c0 AS (SELECT vec_id AS cent_id, i, xq FROM eq WHERE vec_id < {_KM_K}),
    d1 AS ({dist.format(cents='c0')}),
    a1 AS ({amin.format(dists='d1')}),
    c1 AS ({upd.format(assign='a1')}),
    d2 AS ({dist.format(cents='c1')}),
    a2 AS ({amin.format(dists='d2')}),
    c2 AS ({upd.format(assign='a2')}),
    d3 AS ({dist.format(cents='c2')}),
    a3 AS ({amin.format(dists='d3')})"""


def _km_assign_udf(cent_ids: list, cents: "np.ndarray"):
    """Arrow-batched exact-int64 nearest-centroid assignment. ``cents``
    rows are sorted by cent_id ascending, so np.argmin's first-minimum
    rule == the oracle's ORDER BY dist ASC, cent_id ASC tie-break."""
    ids = np.asarray(cent_ids, dtype="int64")

    @pandas_udf("cluster int, dist bigint")
    def assign(q: pd.Series) -> pd.DataFrame:
        m = np.stack(q.to_numpy()).astype("int64")
        diff = m[:, None, :] - cents[None, :, :]
        d = (diff * diff).sum(axis=2)  # exact int64, no float order issues
        pos = np.argmin(d, axis=1)
        return pd.DataFrame(
            {
                "cluster": ids[pos].astype("int32"),
                "dist": d[np.arange(len(pos)), pos],
            }
        )

    return assign


@_q("embed_kmeans", _km_sql())
def embed_kmeans(spark, sf_dir):
    """K-means over the embedding column: 2 full Lloyd iterations (assign ->
    recompute centroids, twice) from a deterministic seed (the first K
    vectors), then the final assignment with its squared distance. All
    arithmetic is scaled-integer: components quantize to round(x*1e6) int64
    once, distances are exact int64 sums, and centroid updates floor-divide
    — so Spark and DuckDB agree bit-for-bit and the result is independent
    of partition count and float summation order (test_driver_contract).

    Scale shape (MLlib-style): centroids live on the driver as the model
    (K x dim ints — a few KB, broadcast into the Arrow-batched assignment
    UDF); each iteration is one narrow map over the vectors plus one
    map-side-combinable groupBy(cluster, i) whose output is K*dim rows.
    Nothing driver-side grows with the corpus; iterations stay O(n*dim)
    with a K*dim-row shuffle. Empty clusters drop out of the centroid
    table identically on both engines (the update groupBy simply has no
    rows for them).

    Reference analog: CodeGraphContext has no clustering; this implements
    the task addendum's embedding-clustering scale path next to
    embed_ann_ivf's fixed-seed inverted file (driver_queries.py's
    _seed_centroids is the shared seeding rule)."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    # quantize once; reused by 3 assignment passes + 2 updates
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))"
        ).alias("q"),
    ).localCheckpoint(eager=True)

    seed = {
        r["vec_id"]: r["q"]
        for r in q.where(F.col("vec_id") < _KM_K).collect()
    }
    cent_ids = sorted(seed)
    cents = np.asarray([seed[c] for c in cent_ids], dtype="int64")

    for _ in range(2):  # Lloyd iterations
        assigned = q.withColumn("a", _km_assign_udf(cent_ids, cents)("q"))
        upd = (
            assigned.select(
                F.col("a.cluster").alias("cluster"),
                F.posexplode("q").alias("i", "xq"),
            )
            .groupBy("cluster", "i")
            .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # K*dim rows — the model, not data
        )
        by_c: dict = {}
        for r in upd:
            by_c.setdefault(r["cluster"], {})[r["i"]] = r["s"] // r["n"]
        cent_ids = sorted(by_c)
        cents = np.asarray(
            [[by_c[c][i] for i in sorted(by_c[c])] for c in cent_ids],
            dtype="int64",
        )

    return q.select(
        "vec_id", _km_assign_udf(cent_ids, cents)("q").alias("a")
    ).select(
        "vec_id",
        F.col("a.cluster").cast("bigint").alias("cluster"),
        F.col("a.dist").alias("dist"),
    )


# =============================================================================
# Product-quantization ANN (compressed-code similarity, the 100 TB index)
# =============================================================================

_PQ_M = 8    # subspaces (64-dim -> 8 x 8-dim)
_PQ_KS = 16  # codes per subspace; codebook seed = the first 16 vectors

# PQ codes (eq/cb/dsub/codes) plus the query's distance table qtab: int64
# quantized subvectors coded to their nearest seed sub-centroid.
_PQ_CODES_CTE = f"""eq AS (SELECT vec_id, (i - 1) // {64 // _PQ_M} AS s, i,
                  CAST(ROUND(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS xq
           FROM e),
    cb AS (SELECT vec_id AS code, s, i, xq FROM eq WHERE vec_id < {_PQ_KS}),
    dsub AS (
      SELECT eq.vec_id, cb.s, cb.code,
             CAST(SUM((eq.xq - cb.xq) * (eq.xq - cb.xq)) AS BIGINT) AS dst
      FROM eq JOIN cb ON eq.i = cb.i GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code, ROW_NUMBER() OVER (
          PARTITION BY vec_id, s ORDER BY dst ASC, code ASC) AS rn
        FROM dsub) WHERE rn = 1),
    qtab AS (SELECT s, code, dst FROM dsub WHERE vec_id = 0)"""


def _pq_sql() -> str:
    """PQ twin: quantize to int64, split dimensions into M subspaces, code
    each (vector, subspace) as its nearest seed sub-centroid (exact integer
    distance, ties to the lowest code), then rank non-query vectors by the
    asymmetric distance — the sum over subspaces of the QUERY's distance to
    each vector's code."""
    return f"""{_EMB_CTE},
    {_PQ_CODES_CTE}
    SELECT c.vec_id, CAST(SUM(q.dst) AS BIGINT) AS adc_dist
    FROM codes c JOIN qtab q ON c.s = q.s AND c.code = q.code
    WHERE c.vec_id <> 0
    GROUP BY 1 ORDER BY adc_dist ASC, vec_id ASC LIMIT 10"""


def _pq_adc_udf(cb: "np.ndarray", qtab: "np.ndarray"):
    """Arrow-batched PQ encode + asymmetric-distance lookup. ``cb`` is the
    (M, K, d) int64 codebook, ``qtab`` the (M, K) int64 query distance
    table. Encoding argmin's exact int64 distances (first minimum = lowest
    code id, matching the oracle's tie-break); the ADC sum is then a pure
    table lookup — the full-precision vector is never touched at query
    time, which is the entire point of the PQ index at 100 TB."""
    m_sub, k_sub, d_sub = cb.shape

    @pandas_udf("bigint")
    def adc(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("int64")
        m = m.reshape(len(m), m_sub, d_sub)
        out = np.zeros(len(m), dtype="int64")
        for s in range(m_sub):  # per-subspace to bound the temp to n*K*d
            diff = m[:, s, None, :] - cb[s][None, :, :]
            codes = np.argmin((diff * diff).sum(-1), axis=1)
            out += qtab[s][codes]
        return pd.Series(out)

    return adc


def _pq_model(spark, sf_dir):
    """Shared PQ model build: quantized vectors + (M,K,d) codebook + the
    query's (M,K) ADC distance table. The collects are K seed vectors — a
    model, not data (same argument as _seed_centroids)."""
    d_sub = 64 // _PQ_M
    emb = _fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))"
        ).alias("q"),
    )
    seed = {
        r["vec_id"]: np.asarray(r["q"], dtype="int64")
        for r in q.where(F.col("vec_id") < _PQ_KS).collect()
    }
    cb = np.stack([seed[k] for k in sorted(seed)]).reshape(
        _PQ_KS, _PQ_M, d_sub
    ).transpose(1, 0, 2).copy()
    qvec = seed.get(0)
    if qvec is None:
        qvec = np.asarray(
            q.where(F.col("vec_id") == 0).collect()[0]["q"], dtype="int64"
        )
    qsub = qvec.reshape(_PQ_M, d_sub)
    diff = qsub[:, None, :] - cb  # (M, K, d)
    qtab = (diff * diff).sum(-1)  # (M, K) exact int64 distance table
    return q, cb, qtab


_IVFPQ_R = 50  # ADC shortlist within the probed cells


def _ivfpq_sql() -> str:
    """IVF-PQ twin: the IVF leg's cell assignment + probe (embed_ann_ivf's
    _IVF_ASSIGN_CTE) restricts the candidate set; the PQ leg's ADC
    (_pq_sql's _PQ_CODES_CTE) shortlists within it; exact cosine re-ranks
    the shortlist."""
    return f"""{_EMB_CTE},
    {_IVF_ASSIGN_CTE},
    probe AS (SELECT cent_id FROM sims WHERE vec_id = 0
              ORDER BY cos_x1e6 DESC, cent_id ASC LIMIT {_IVF_NPROBE}),
    cand AS (SELECT a.vec_id FROM assign a JOIN probe p USING (cent_id)
             WHERE a.vec_id <> 0),
    {_PQ_CODES_CTE},
    short AS (
      SELECT c.vec_id, CAST(SUM(q.dst) AS BIGINT) AS adc_dist
      FROM codes c
      JOIN qtab q ON c.s = q.s AND c.code = q.code
      JOIN cand ON c.vec_id = cand.vec_id
      GROUP BY 1 ORDER BY adc_dist ASC, c.vec_id ASC LIMIT {_IVFPQ_R}),
    {_rerank_sql("dd", "short s", 10)}"""


@_q("embed_ivfpq", _ivfpq_sql())
def embed_ivfpq(spark, sf_dir):
    """IVF-PQ — the FAISS-standard composed index: the coarse quantizer
    routes the query to NPROBE cells (scan ~NPROBE/K of the corpus), the
    PQ ADC scan shortlists R candidates WITHIN those cells reading only
    8-byte codes, and exact cosine re-ranks the R full vectors. Each leg is
    the already-oracle-checked operator (embed_ann_ivf / embed_pq_rerank);
    the composition is what a 10^9-vector deployment actually runs: cost =
    probe fraction x code scan + R full-vector reads, independent of corpus
    size in the expensive column.

    Scale shape: centroid matrix and codebook broadcast (KBs); cell
    assignment and ADC are Arrow-batched narrow passes; both top-k's
    compile to TakeOrderedAndProject; the full-precision column is touched
    for exactly R rows."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    cn = _seed_centroids(emb, _IVF_K)
    assign_cell = _assign_cell_udf(cn)
    qcos = _round_half_away(cn @ cn[0] * 1e6)
    order = np.lexsort((np.arange(_IVF_K), -qcos))
    probe_cells = [int(c) for c in order[:_IVF_NPROBE]]

    q, cb, qtab = _pq_model(spark, sf_dir)
    cand_ids = (
        emb.withColumn("cell", assign_cell("embedding"))
        .where(F.col("cell").isin(probe_cells) & (F.col("vec_id") != 0))
        .select("vec_id")
    )
    short = (
        q.join(cand_ids, "vec_id", "left_semi")
        .select("vec_id", _pq_adc_udf(cb, qtab)("q").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(_IVFPQ_R)
        .select("vec_id")
    )
    cand = emb.join(short, "vec_id", "left_semi")
    return _cos_top(cand.crossJoin(F.broadcast(_query_vec(emb))), 10)


@_q("embed_pq", _pq_sql())
def embed_pq(spark, sf_dir):
    """Product-quantization ANN — the compressed-index scale path next to
    embed_ann_lsh (hyperplane buckets) and embed_ann_ivf (inverted file):
    dimensions split into M=8 subspaces, each subvector coded as its
    nearest of K=16 seed sub-centroids, and candidates ranked by the
    asymmetric distance (sum over subspaces of the query-to-code distance).
    All distances are exact int64 over round(x*1e6) quantized components,
    ties to the lowest code id on both engines.

    Scale shape: the codebook is M*K*(dim/M) ints (a few KB, broadcast);
    each document compresses to M uint8 codes (8 bytes vs 256 — a 32x
    index shrink at 100 TB), and query-time ADC is one table lookup per
    subspace over a narrow scan of the codes column. Here encode + lookup
    fuse into one Arrow-batched pass; a persisted variant would write the
    codes once and scan only them. Top-k is TakeOrderedAndProject.

    Reference analog: CodeGraphContext has no vector search; this
    implements the task addendum's compressed-ANN variant (seed rule
    shared with _seed_centroids / embed_ann_ivf)."""
    q, cb, qtab = _pq_model(spark, sf_dir)
    return (
        q.where(F.col("vec_id") != 0)
        .select("vec_id", _pq_adc_udf(cb, qtab)("q").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )


_PQ_R = 200  # ADC shortlist size fed to the exact re-rank


def _pq_rerank_sql() -> str:
    """Twin of the refine step: the ADC shortlist CTEs are _pq_sql()'s,
    widened to LIMIT R; the shortlist then joins the raw components for the
    exact double-precision cosine (embed_topk_cosine's metric, verbatim)."""
    return f"""{_EMB_CTE},
    {_PQ_CODES_CTE},
    short AS (
      SELECT c.vec_id
      FROM codes c JOIN qtab q ON c.s = q.s AND c.code = q.code
      WHERE c.vec_id <> 0
      GROUP BY 1 ORDER BY SUM(q.dst) ASC, vec_id ASC LIMIT {_PQ_R}),
    {_rerank_sql("dots", "short s", 10, group="b.vec_id")}"""


@_q("embed_pq_rerank", _pq_rerank_sql())
def embed_pq_rerank(spark, sf_dir):
    """PQ + exact refine — the production two-stage ANN: the compressed ADC
    index cuts the corpus to an R=200 shortlist (10% here; a fixed fraction
    at any scale), then ONLY the shortlist's full-precision vectors are
    read for the exact cosine top-10. On this corpus's near-random
    embeddings (pairwise cosines concentrate around 0.3-0.4 — the hard
    regime for any quantizer) pure ADC@10 recalls 0.1 of the true top-10
    while the refined top-10 recalls 0.8 (scripts/ann_recall.py) — the
    textbook reason PQ deployments always carry a refine stage.

    Scale shape: stage 1 scans only the 8-byte codes (TakeOrderedAndProject
    keeps R per partition, never a global sort); stage 2's full-vector read
    is an R-row semi-join — at 100 TB the expensive column is fetched for
    0.0001% of rows. Codebook and query table stay broadcast-sized."""
    q, cb, qtab = _pq_model(spark, sf_dir)
    short = (
        q.where(F.col("vec_id") != 0)
        .select("vec_id", _pq_adc_udf(cb, qtab)("q").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(_PQ_R)
        .select("vec_id")
    )
    emb = _t(spark, sf_dir, "embeddings")
    cand = emb.join(short, "vec_id", "left_semi")
    return _cos_top(cand.crossJoin(F.broadcast(_query_vec(emb))), 10)


# =============================================================================
# KMV distinct-count sketch (mergeable cardinality estimation)
# =============================================================================

_KMV_K = 64
_KMV_SPACE = 281474976710656  # 2^48: the md5-prefix hash space


@_q(
    "events_distinct_kmv",
    f"""WITH hh AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM events),
    r AS (SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY h ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS nd
          FROM hh)
    SELECT event_type,
           CAST(MAX(nd) AS BIGINT) AS n_distinct_exact,
           CAST(CASE WHEN MAX(nd) < {_KMV_K} THEN MAX(nd)
                     ELSE ({_KMV_K - 1} * {_KMV_SPACE})
                          // MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                END AS BIGINT) AS est_distinct
    FROM r GROUP BY event_type ORDER BY event_type""",
)
def events_distinct_kmv(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch per event type: hash
    every user to a 48-bit value (md5 prefix — the one hash both engines
    compute identically), keep the K smallest distinct hashes, estimate
    |distinct| = (K-1) * 2^48 / h_K by integer floor division. Exact when
    fewer than K distinct values were seen (the kept set IS the distinct
    set). The exact count rides along as the verification column.

    This is the engine's mergeable-sketch primitive: unlike HyperLogLog
    (whose Spark and DuckDB implementations hash differently and can't be
    oracle-compared), KMV over an agreed hash is deterministic, and two
    sketches merge by unioning hash sets and re-taking the K smallest —
    at 100 TB each partition keeps its local K minima (map-side), the
    merge is a K-row-per-group shuffle, and nothing unbounded is held.
    The window form here is the oracle-parity expression of that top-K.

    Reference analog: none (CodeGraphContext counts exactly); task
    addendum's sketch family."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    h = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) "
        "AS BIGINT)"
    )
    hh = events.select("event_type", h.alias("h")).distinct()
    r = hh.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.asc("h"))
        ),
    ).withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    agg = r.groupBy("event_type").agg(
        F.max("nd").alias("nd"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
    )
    est = F.when(F.col("nd") < _KMV_K, F.col("nd")).otherwise(
        F.expr(f"({_KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT)) DIV hk")
    )
    return agg.select(
        "event_type",
        F.col("nd").cast("bigint").alias("n_distinct_exact"),
        est.cast("bigint").alias("est_distinct"),
    ).orderBy("event_type")


@_q(
    "events_kmv_daily",
    f"""WITH ev AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM events),
    r AS (SELECT day, h,
                 ROW_NUMBER() OVER (PARTITION BY day ORDER BY h ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY day) AS nd
          FROM ev),
    daily AS (SELECT day AS scope,
           CAST(MAX(nd) AS BIGINT) AS n_distinct_exact,
           CAST(CASE WHEN MAX(nd) < {_KMV_K} THEN MAX(nd)
                     ELSE ({_KMV_K - 1} * {_KMV_SPACE})
                          // MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                END AS BIGINT) AS est_distinct
      FROM r GROUP BY day),
    sk AS (SELECT DISTINCT h FROM r WHERE rn <= {_KMV_K}),
    m AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h ASC) AS rn,
                 COUNT(*) OVER () AS nk FROM sk),
    merged AS (SELECT 'ALL' AS scope,
           CAST((SELECT COUNT(DISTINCT h) FROM ev) AS BIGINT)
               AS n_distinct_exact,
           CAST(CASE WHEN MAX(nk) < {_KMV_K} THEN MAX(nk)
                     ELSE ({_KMV_K - 1} * {_KMV_SPACE})
                          // MAX(CASE WHEN rn = {_KMV_K} THEN h END)
                END AS BIGINT) AS est_distinct
      FROM m)
    SELECT * FROM daily UNION ALL SELECT * FROM merged
    ORDER BY scope""",
)
def events_kmv_daily(spark, sf_dir):
    """KMV sketch MERGE, demonstrated: per-day distinct-user sketches (the
    K smallest 48-bit user hashes per day) are merged upward — union the
    day sketches, re-take the K global minima — into the all-days estimate.
    The merged row's estimate uses ONLY the <= 7K sketch rows, never the raw
    stream, while its exact count rides along from the full data: the
    mergeability contract (K-minima of a union = K-minima of the union of
    per-part K-minima) that lets a 1000-executor job compute per-partition
    sketches map-side and combine them in a K-row shuffle. Exact below K by
    completeness: if the merged sketch holds < K hashes, every day held < K
    distinct users and the sketches ARE the distinct sets.

    Shares every constant and the hash rule with events_distinct_kmv; day
    extraction is the events_daily string idiom (date objects hash-differ
    across engines).

    Reference analog: none; task addendum's sketch family (merge leg)."""
    from pyspark.sql.window import Window

    events = _t(spark, sf_dir, "events")
    h = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) "
        "AS BIGINT)"
    )
    ev = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), h.alias("h")
    ).distinct()
    r = ev.withColumn(
        "rn", F.row_number().over(Window.partitionBy("day").orderBy(F.asc("h")))
    ).withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("day")))
    daily = r.groupBy(F.col("day").alias("scope")).agg(
        F.max("nd").alias("nd"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
    )
    sk = r.where(F.col("rn") <= _KMV_K).select("h").distinct()
    m = sk.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.asc("h")))
    ).withColumn("nk", F.count(F.lit(1)).over(Window.partitionBy()))
    exact_all = ev.select("h").distinct().agg(
        F.count(F.lit(1)).alias("nd")
    )
    merged = m.groupBy().agg(
        F.max("nk").alias("nk"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("hk"),
    ).crossJoin(exact_all).select(
        F.lit("ALL").alias("scope"),
        F.col("nd").cast("bigint").alias("n_distinct_exact"),
        F.when(F.col("nk") < _KMV_K, F.col("nk"))
        .otherwise(F.expr(f"({_KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT)) DIV hk"))
        .cast("bigint")
        .alias("est_distinct"),
    )
    daily_out = daily.select(
        "scope",
        F.col("nd").cast("bigint").alias("n_distinct_exact"),
        F.when(F.col("nd") < _KMV_K, F.col("nd"))
        .otherwise(F.expr(f"({_KMV_K - 1} * CAST({_KMV_SPACE} AS BIGINT)) DIV hk"))
        .cast("bigint")
        .alias("est_distinct"),
    )
    return daily_out.union(merged).orderBy("scope")


# =============================================================================
# TPC-H Q5 shape: local-supplier volume (the 6-way dim snowflake join)
# =============================================================================

@_q(
    "supplier_nation_revenue",
    """SELECT n.n_name,
              CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)) AS BIGINT)
                AS revenue_x10k
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue_x10k DESC, n_name ASC""",
)
def supplier_nation_revenue(spark, sf_dir):
    """TPC-H Q5-shaped local-supplier volume: revenue per nation where the
    ordering customer and the line's supplier share a nation, one region,
    one order year — the classic 6-way snowflake join that stresses join
    ordering. Revenue sums per-row scaled BIGINTs (the orders_topk_revenue
    convention) so partial-aggregation order can't flip a hash bit.

    Scale shape: region->nation prune first (nation is a CONSTANT-bounded
    25-row dim — the one place a forced broadcast is correct at any
    corpus size); supplier and the date-windowed orders are unbounded
    dims, left to AQE. The fact join (lineitem |><| orders) keys on
    orderkey — co-located under the fact table's natural bucketing; the
    customer join carries the local-supplier constraint as a composite
    equi-key (custkey, nationkey), so it stays a hash join, never a
    filtered cross product. Predicates (r_name, the date window) all
    reach their scans as pushed filters."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nat = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                region.select(F.col("r_regionkey").alias("n_regionkey"))
            ),
            on="n_regionkey",
        )
        .select("n_nationkey", "n_name")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.withColumnRenamed("n_nationkey", "s_nationkey")),
            on="s_nationkey",
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000
    ).cast("bigint")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", rev.alias("rev")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum("rev").cast("bigint").alias("revenue_x10k"))
        .orderBy(F.desc("revenue_x10k"), F.asc("n_name"))
    )


# =============================================================================
# TPC-H Q14 shape: part-type revenue mix (covers the part dimension)
# =============================================================================

@_q(
    "part_type_revenue",
    """WITH r AS (
      SELECT p.p_type,
             SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000)
                      AS BIGINT)) AS rev_x10k,
             COUNT(*) AS n_items
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
        AND l.l_shipdate < TIMESTAMP '1996-06-01'
      GROUP BY p.p_type),
    t AS (SELECT SUM(rev_x10k) AS total FROM r)
    SELECT r.p_type, CAST(r.rev_x10k AS BIGINT) AS rev_x10k,
           CAST(r.n_items AS BIGINT) AS n_items,
           CAST((r.rev_x10k * 1000000) // t.total AS BIGINT) AS share_x1e6
    FROM r CROSS JOIN t ORDER BY rev_x10k DESC, p_type ASC""",
)
def part_type_revenue(spark, sf_dir):
    """TPC-H Q14-shaped revenue mix by part type over one ship-date window
    (promo-share generalized to the full type breakdown). Revenue sums
    per-row scaled BIGINTs; the share of total is floor-divided against a
    single-row total cross-joined back (broadcast-by-construction).

    Scale shape: the date predicate pushes into the lineitem scan; the
    part join is a plain hash join with NO broadcast hint — part is an
    unbounded dimension (200k x SF rows in TPC-H), so AQE picks broadcast
    only when the runtime size allows; groupBy(p_type) is map-side
    combinable into a constant-bounded result."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-06-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000
    ).cast("bigint")
    r = (
        li.select(F.col("l_partkey").alias("p_partkey"), rev.alias("rev"))
        .join(part, "p_partkey")
        .groupBy("p_type")
        .agg(
            F.sum("rev").alias("rev_x10k"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    t = r.agg(F.sum("rev_x10k").alias("total"))
    return (
        r.crossJoin(t)
        .select(
            "p_type",
            F.col("rev_x10k").cast("bigint").alias("rev_x10k"),
            F.col("n_items").cast("bigint").alias("n_items"),
            F.expr("(rev_x10k * 1000000L) div total")
            .cast("bigint")
            .alias("share_x1e6"),
        )
        .orderBy(F.desc("rev_x10k"), F.asc("p_type"))
    )


# =============================================================================
# Span-level exact dedup (C4's three-sentence-span rule, token-block form)
# =============================================================================

_SPAN_W = 10  # tokens per non-overlapping span


@_q(
    "text_dedup_spans",
    f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
    k AS (SELECT doc_id, toks,
                 unnest(range((len(toks) // {_SPAN_W})::BIGINT)) AS k
          FROM t WHERE len(toks) >= {_SPAN_W}),
    d AS (SELECT DISTINCT doc_id,
                 md5(array_to_string(
                       list_slice(toks, k*{_SPAN_W}+1, k*{_SPAN_W}+{_SPAN_W}),
                       ' ')) AS h
          FROM k),
    w AS (SELECT h, MIN(doc_id) AS keeper FROM d GROUP BY h),
    j AS (SELECT d.doc_id,
                 CASE WHEN d.doc_id = w.keeper THEN 1 ELSE 0 END AS kept
          FROM d JOIN w USING (h))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_removed
    FROM j GROUP BY doc_id""",
)
def text_dedup_spans(spark, sf_dir):
    """Span-level exact deduplication — C4's 'discard every repeated
    three-sentence span' rule (Raffel et al. 2020), in token-block form for
    this corpus (non-overlapping 10-token spans; the corpus has no sentence
    punctuation): a span survives only in the lowest-doc_id document
    containing it, and every document reports how many of its spans it
    keeps vs loses. The doc-level exact/near-dup family can't see this —
    partially-copied pages share spans, not whole documents.

    Scale shape: spans never shuffle as text — each span becomes its md5
    up front, so the winner groupBy and the membership join move 16-byte
    keys; both are map-side-combinable/hash-partitioned on the hash. The
    span explode is linear in corpus tokens (the same budget as any
    tokenization pass). Distinct-per-doc first, so a span repeated inside
    one document counts once.

    Reference analog: none (MERGE dedups whole keys); task addendum's
    sub-document dedup next to text_boilerplate_frac's df signal."""
    docs = _fan_out(_t(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    spans = (
        docs.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) DIV {_SPAN_W} - 1), "
                    f"k -> md5(concat_ws(' ', "
                    f"slice(toks, k*{_SPAN_W}+1, {_SPAN_W}))))"
                )
            ).alias("h"),
        )
        .distinct()
    )
    w = spans.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    j = spans.join(w, "h").select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("keeper"), 1).otherwise(0).alias(
            "kept"
        ),
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("bigint").alias("n_removed"),
    )


# =============================================================================
# Winnowing fingerprints (MOSS-style local document fingerprinting)
# =============================================================================

_WINNOW_W = 4  # consecutive shingle-hashes per winnowing window


@_q(
    "text_winnow",
    f"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
    h AS (SELECT doc_id,
                 list_transform(
                     range(1, greatest(len(toks) - 2, 0) + 1),
                     i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 ) AS hs
          FROM s0),
    f0 AS (SELECT doc_id,
                  list_distinct(list_transform(
                      range(1, greatest(len(hs) - {_WINNOW_W - 1},
                                        least(len(hs), 1)) + 1),
                      j -> list_min(hs[j:j+{_WINNOW_W - 1}]))) AS fps
           FROM h WHERE len(hs) > 0),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM f0),
    sh AS (SELECT fp, COUNT(*) AS n_docs FROM fp GROUP BY fp)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_fps
    FROM fp JOIN sh USING (fp) GROUP BY doc_id""",
)
def text_winnow(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    algorithm): hash every positional word-3-gram (the ONE shingling rule,
    order kept, duplicates kept), slide a window of W consecutive hashes,
    and keep each window's minimum. The guarantee `text_fingerprint`'s
    single global min cannot give: any shared token run spanning at least
    W+2 tokens yields at least one IDENTICAL fingerprint in both documents,
    so substring-level overlap (partial plagiarism, benchmark contamination)
    is detectable without comparing texts. Output is the per-doc density
    signal: total distinct fingerprints and how many are shared with any
    other document corpus-wide.

    Scale shape: the window-min selection runs entirely inside one
    whole-stage-codegen projection (transform/sequence/slice/array_min HOFs
    over the in-row hash array — no shuffle, no UDF); only 16-byte md5
    fingerprints are exploded and shuffled, once for the per-fp posting
    count and once for the per-doc rollup, both map-side-combinable. The
    fingerprint set is ~1/W of the shingle count by the winnowing density
    bound, so the shuffle is strictly cheaper than any full-shingle join.

    Reference analog: none (Lucene indexes whole terms); task addendum's
    document-fingerprinting family, upgraded from global-min to local."""
    docs = _fan_out(_t(spark, sf_dir, "documents"))
    hashes = F.transform(
        _shingle_array(F.split("text", " ")), lambda s: F.md5(s)
    )
    h = docs.select("doc_id", hashes.alias("hs")).where(F.size("hs") > 0)
    fp = h.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform("
                f"sequence(1, greatest(size(hs) - {_WINNOW_W - 1}, "
                f"least(size(hs), 1))), "
                f"j -> array_min(slice(hs, j, {_WINNOW_W}))))"
            )
        ).alias("fp"),
    )
    shared = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    return fp.join(shared, "fp").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps"),
        F.sum((F.col("n_docs") >= 2).cast("int"))
        .cast("bigint")
        .alias("n_shared_fps"),
    )


# =============================================================================
# TPC-H Q4 shape: priority counts gated on an EXISTS semi-join
# =============================================================================

@_q(
    "orders_priority_exists",
    """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate >= TIMESTAMP '1996-08-01')
    GROUP BY o.o_orderpriority
    ORDER BY o_orderpriority ASC""",
)
def orders_priority_exists(spark, sf_dir):
    """TPC-H Q4-shaped order-priority check: count one quarter's orders per
    priority class, keeping only orders for which at least one line item
    shipped on/after a cutoff (the corpus carries no commit/receipt dates,
    so the late-shipment EXISTS is expressed against l_shipdate). The point
    is the EXISTS shape: a LEFT SEMI join, never an inner join + distinct —
    an order with five qualifying lines must count once, and the semi join
    stops probing an order's lines at the first hit.

    Scale shape: both predicates push into their parquet scans (the
    orders date window and the lineitem shipdate cutoff — the semi join's
    build side is pre-shrunk before any shuffle); the semi join keys on
    l_orderkey = o_orderkey, co-located under the fact table's natural
    bucketing; the final groupBy collapses to a 5-row constant-bounded
    result map-side. No distinct, no broadcast hint — AQE picks the
    strategy from runtime sizes."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1996-08-01").cast("timestamp"))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        orders.join(shipped, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy(F.asc("o_orderpriority"))
    )


# =============================================================================
# TPC-H Q13 shape: customer order-count distribution (outer join + 2 aggs)
# =============================================================================

@_q(
    "customer_order_dist",
    """WITH co AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_custs
    FROM co GROUP BY n_orders
    ORDER BY n_custs DESC, n_orders DESC""",
)
def customer_order_dist(spark, sf_dir):
    """TPC-H Q13-shaped customer distribution: how many customers placed
    exactly N qualifying orders (urgent-priority orders excluded — the
    analog of Q13's comment filter), INCLUDING the zero-order customers
    that an inner join would silently drop. The two-level aggregation —
    per-customer count, then histogram over counts — is the canonical
    left-outer + double-groupBy shape.

    Scale shape: the priority filter is applied to the orders side BEFORE
    the join (it pushes into the scan; filtering inside an outer join's
    ON clause would block pushdown), and COUNT(o_orderkey) counts only
    matched rows, preserving outer-join semantics exactly. Both groupBys
    are map-side combinable; the second collapses |customers| rows to a
    handful of histogram buckets, so the expensive shuffle happens once,
    keyed on c_custkey — the same key the join just used, which AQE can
    reuse without a second exchange."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey")
    )
    co = (
        cust.join(orders, "c_custkey", "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        co.groupBy("n_orders")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_custs"))
        .select(F.col("n_orders").cast("bigint").alias("n_orders"), "n_custs")
        .orderBy(F.desc("n_custs"), F.desc("n_orders"))
    )


# =============================================================================
# TPC-H Q16 shape: supplier variety per part group (anti-join + distinct)
# =============================================================================

@_q(
    "part_supplier_counts",
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 7, 14, 21, 28, 35, 42, 49)
      AND NOT EXISTS (SELECT 1 FROM bad b WHERE b.s_suppkey = ps.l_suppkey)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC""",
)
def part_supplier_counts(spark, sf_dir):
    """TPC-H Q16-shaped supplier variety: how many distinct acceptable
    suppliers can deliver each (brand, size) part group, excluding one
    brand, off-list sizes, and suppliers flagged by the complaint analog
    (negative account balance). The corpus has no partsupp table, so the
    part<->supplier association is recovered from lineitem as the distinct
    (l_partkey, l_suppkey) pairs — the same availability relation.

    Scale shape: the distinct pair projection reads two columns (column
    pruning) and partial-aggregates map-side before its shuffle; the
    flagged-supplier exclusion is a LEFT ANTI join (never NOT IN over a
    collected list — the flagged set is unbounded at corpus scale, and
    anti-join lets AQE broadcast it only when it measures small); the
    brand/size predicates push into the part scan before the join; the
    final COUNT(DISTINCT) runs as Spark's two-phase distinct-aggregate,
    partial per partition. No forced broadcast anywhere."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    part = (
        _t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 7, 14, 21, 28, 35, 42, 49)
        )
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand", "p_size")
    )
    return (
        ps.join(bad, "l_suppkey", "left_anti")
        .join(part, "l_partkey")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .select(
            "p_brand",
            F.col("p_size").cast("bigint").alias("p_size"),
            "supplier_cnt",
        )
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


# =============================================================================
# TPC-H Q10 shape: returned-item revenue per customer, top 20
# =============================================================================

@_q(
    "returned_item_customers",
    """SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                               * 10000) AS BIGINT)) AS BIGINT)
             AS revenue_x10k
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_x10k DESC, c_custkey ASC
    LIMIT 20""",
)
def returned_item_customers(spark, sf_dir):
    """TPC-H Q10-shaped returned-item report: the 20 customers who
    returned the most revenue in one quarter, with their nation name.
    Revenue sums per-row scaled BIGINTs (the shared x10k convention) so
    no float summation order can flip the ranking or the hash.

    Scale shape: the returnflag and date predicates push into the
    lineitem and orders scans; the fact-side join (lineitem |><| orders)
    keys on orderkey before anything touches customer, so the revenue
    rows are maximally shrunk entering the customer join; nation is the
    one CONSTANT-bounded dim (25 rows at any SF) and is force-broadcast
    by the same rule supplier_nation_revenue documents; customer is
    unbounded and left to AQE. The top-20 compiles to
    TakeOrderedAndProject — per-partition heaps, never a global sort."""
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    rev = F.round(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * 10000
    ).cast("bigint")
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"), rev.alias("rev"))
    )
    return (
        li.join(orders, "o_orderkey")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), "c_nationkey")
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum("rev").cast("bigint").alias("revenue_x10k"))
        .orderBy(F.desc("revenue_x10k"), F.asc("c_custkey"))
        .limit(20)
    )


# =============================================================================
# Salted holistic aggregation surfaced as a query (functions/skew.py consumer)
# =============================================================================

@_q(
    "events_user_type_sets",
    """SELECT user_id,
              list_sort(list_distinct(list(event_type))) AS type_set,
              CAST(len(list_distinct(list(event_type))) AS BIGINT) AS n_types
    FROM events GROUP BY user_id ORDER BY user_id ASC""",
)
def events_user_type_sets(spark, sf_dir):
    """Per-user sorted distinct event-type set, computed through the salted
    two-phase collect (``functions/skew.py`` ``salted_collect_set``): phase 1
    collects per (user, salt) so a whale user's values spread over 8
    reducers, phase 2 merges the ≤ 8 bounded partial sets. The oracle is the
    plain holistic aggregate — the operator's contract is that salting is
    invisible in the result (sorted output makes it partitioning-proof).

    Scale shape: the one aggregation whose map-side combine does NOT bound
    reducer memory (collect_set values accumulate); the salt bounds each
    partial at 1/n_salts of the hot key. Everything is built-in exprs —
    xxhash64 salt, collect_set, flatten/array_distinct/sort_array."""
    from ..functions.skew import salted_collect_set

    ev = _t(spark, sf_dir, "events")
    out = salted_collect_set(
        ev, ["user_id"], "event_type", spread_cols=["event_id"], n_salts=8
    )
    return out.select(
        "user_id",
        F.col("values").alias("type_set"),
        F.size("values").cast("bigint").alias("n_types"),
    ).orderBy(F.asc("user_id"))


@_q(
    "events_salted_enrich",
    """WITH c AS (SELECT user_id, COUNT(*) AS n_user_events
                  FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id,
           CAST(c.n_user_events AS BIGINT) AS n_user_events
    FROM events e JOIN c USING (user_id)
    ORDER BY event_id ASC""",
)
def events_salted_enrich(spark, sf_dir):
    """Fact-side enrichment through the salted join (``functions/skew.py``
    ``salted_join``): every event annotated with its user's total event
    count, the dimension replicated 8x and each fact row routed to one
    deterministic salt — so a whale user's events spread over 8 shuffle
    partitions instead of one. The oracle is the PLAIN join: salting must
    be row-invisible.

    Scale shape: this is the stream-static join's batch twin — the case
    where the dimension outgrows broadcast and AQE can't split a streaming
    stage's skew. The salt is xxhash64(event_id) % 8: reproducible across
    retries and partitionings, never rand()."""
    from ..functions.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_events")
    )
    return (
        salted_join(
            ev.select("event_id", "user_id"), dim, "user_id",
            spread_cols=["event_id"], n_salts=8,
        )
        .select("event_id", "user_id", "n_user_events")
        .orderBy(F.asc("event_id"))
    )


# =============================================================================
# Wide-multiprobe LSH (Hamming-2): the recall knob of the bucketed index
# =============================================================================

_LSH2_MASKS = (
    [0]
    + [1 << j for j in range(16)]
    + [(1 << i) | (1 << j) for i in range(16) for j in range(i + 1, 16)]
)  # 137 probe buckets: Hamming distance <= 2 from the query signature
_LSH2_VALUES = ",".join(f"({v})" for v in _LSH2_MASKS)


@_q(
    "embed_ann_lsh_wide",
    f"""{_EMB_CTE},
    hp AS (SELECT * FROM (VALUES {_HP_SQL}) AS t(b, i, s)),
    proj AS (
      SELECT e.vec_id, hp.b, SUM(CAST(e.x AS DOUBLE) * hp.s) AS dot
      FROM e JOIN hp ON e.i = hp.i GROUP BY 1, 2),
    buck AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN POW(2, b) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM proj GROUP BY 1),
    qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
    probes AS (SELECT DISTINCT xor(qb.bucket, t.v) AS bucket
               FROM qb, (VALUES {_LSH2_VALUES}) t(v)),
    cand AS (SELECT bk.vec_id FROM buck bk JOIN probes p ON bk.bucket = p.bucket
             WHERE bk.vec_id <> 0),
    {_rerank_sql("d", "cand c", 10)}""",
)
def embed_ann_lsh_wide(spark, sf_dir):
    """embed_ann_lsh's recall knob turned up: probe every bucket within
    Hamming distance 2 of the query signature (1 + 16 + 120 = 137
    enumerated buckets — still 137/2^16 = 0.2% of the bucket space, still
    partition-pruned equi-join point lookups, never a bit_count scan).
    Multiprobe IS the LSH cost/recall dial: on this corpus's near-random
    embeddings Hamming-1's 17 probes recall 0.4 of the true top-k; the
    137-probe widening lifts that (measured in scripts/ann_recall.py) at
    ~8x the candidate re-rank cost, which stays a tiny corpus fraction.

    Scale shape identical to embed_ann_lsh: signatures computed once
    (Arrow-batched numpy), probe keys broadcast, exact cosine only inside
    probed buckets, top-k via TakeOrderedAndProject."""
    emb = _t(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id", "embedding", _lsh_bucket_udf()("embedding").alias("bucket")
    )
    flips = F.array(*[F.lit(v) for v in _LSH2_MASKS])
    q = (
        bucketed.where(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("q_emb"),
            F.explode(flips).alias("_flip"),
            F.col("bucket").alias("q_bucket"),
        )
        .select(
            "q_emb", F.col("q_bucket").bitwiseXOR(F.col("_flip")).alias("bucket")
        )
    )
    cand = bucketed.where(F.col("vec_id") != 0).join(F.broadcast(q), on="bucket")
    return _cos_top(cand, 10)


# =============================================================================
# Heavy hitters: two-pass exact top frequency (Misra-Gries candidates)
# =============================================================================

# phi = 8/1000 of the stream; MG capacity 125 counters => merged-summary
# undercount <= n_p/(k+1) = n_p/126 < n_p*phi per partition, so every
# globally-phi-heavy item survives at least one partition's sketch
# (pigeonhole over partitions) and the exact second pass misses nothing.
_HH_K = 125
_HH_PHI_NUM, _HH_PHI_DEN = 8, 1000


def _mg_candidates(batches):
    """Per-partition Misra-Gries fold, vectorized: each Arrow batch is
    reduced with pandas value_counts (no per-row Python), merged into the
    running summary by counter addition, then pruned back to _HH_K counters
    by subtracting the (k+1)-th largest count (the mergeable-summaries
    reduce op, Agarwal et al. 2012 — keeps total undercount <= n_p/(k+1))."""
    summary = pd.Series(dtype="int64")
    for pdf in batches:
        vc = pdf["user_id"].dropna().value_counts()
        summary = summary.add(vc, fill_value=0)
        if len(summary) > _HH_K:
            cut = summary.nlargest(_HH_K + 1).iloc[-1]
            summary = summary - cut
            summary = summary[summary > 0]
    yield pd.DataFrame({"user_id": summary.index.astype("int64")})


@_q(
    "events_heavy_hitters",
    f"""SELECT user_id, COUNT(*) AS n_events
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
    HAVING COUNT(*) * {_HH_PHI_DEN} > {_HH_PHI_NUM} *
           (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL)
    ORDER BY n_events DESC, user_id ASC""",
)
def events_heavy_hitters(spark, sf_dir):
    """Exact phi-heavy hitters (count > 0.8% of the stream) via the
    two-pass sketch-then-verify shape that scales: pass 1 is a SHUFFLE-FREE
    narrow Misra-Gries scan emitting <= 125 candidate ids per partition;
    pass 2 broadcast-semi-joins the candidate set (bounded by k x
    n_partitions rows, not by cardinality) and exact-counts only those.
    At 100 TB the full groupBy the oracle runs would shuffle every distinct
    key; this plan shuffles only the candidates — yet the MG bound
    guarantees the SAME answer, which is what the oracle twin checks.
    Null user_ids are dropped on both engines (and inside the pandas fold —
    the applyInPandas null-poison class)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cands = (
        ev.select("user_id")
        .mapInPandas(_mg_candidates, schema="user_id bigint")
        .distinct()
    )
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        ev.join(F.broadcast(cands), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_events") * _HH_PHI_DEN > F.lit(_HH_PHI_NUM) * F.col("n_total"))
        .select("user_id", "n_events")
        .orderBy(F.desc("n_events"), F.asc("user_id"))
    )


# ER-blocking quality (Christen 2012 record-linkage metrics): how good is
# the MinHash-LSH blocking step as a CANDIDATE GENERATOR? Truth = pairs with
# capped-shingle Jaccard >= _ERB_JX (the exact near-dup rule the pipeline
# verifies); candidates = distinct within-bucket pairs from the 4-band
# signature, buckets above _ERB_BUCKET_CAP dropped (the same cap the CC
# clustering path uses — a mega-bucket is boilerplate, not evidence).
#   pair completeness  PC = |cand ∩ truth| / |truth|        (blocking recall)
#   reduction ratio    RR = 1 - |cand| / C(n_docs, 2)       (pruning power)
_ERB_JX = 500_000
_ERB_BUCKET_CAP = 64

@_q(
    "er_blocking_quality",
    f"""{_SHINGLE_PAIRS_CTE},
    truth AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE p.n_shared >= 2
        AND p.n_shared * 1000000 // (sa.n + sb.n - p.n_shared) >= {_ERB_JX}),
    {_SIG_CTE},
    bands AS ({_BANDS_SQL}),
    bsz AS (SELECT band, sig_v, COUNT(*) AS n FROM bands GROUP BY 1, 2),
    kept AS (
      SELECT b.band, b.sig_v, b.doc_id FROM bands b
      JOIN bsz USING (band, sig_v)
      WHERE bsz.n BETWEEN 2 AND {_ERB_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.sig_v = b.sig_v AND a.doc_id < b.doc_id),
    m AS (SELECT
      (SELECT COUNT(*) FROM documents) AS n_docs,
      (SELECT COUNT(*) FROM truth) AS n_truth,
      (SELECT COUNT(*) FROM cand) AS n_cand,
      (SELECT COUNT(*) FROM truth t JOIN cand c USING (doc_a, doc_b)) AS n_hit)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(CASE WHEN n_truth = 0 THEN 1000000
                     ELSE n_hit * 1000000 // n_truth END AS BIGINT) AS pc_x1e6,
           CAST(1000000 - n_cand * 1000000 // (n_docs * (n_docs - 1) // 2)
                AS BIGINT) AS rr_x1e6
    FROM m""",
)
def er_blocking_quality(spark, sf_dir):
    """Blocking-quality audit of the LSH candidate generator: pair
    completeness (recall vs exact capped-shingle Jaccard >= 0.5) and
    reduction ratio (1 - candidates/C(n,2)), one row of scaled-integer
    metrics. This is the go/no-go gauge for swapping the exact O(pairs)
    near-dup verifier for LSH blocking at full scale (reference's dedup has
    no such audit; standard ER methodology, Christen 2012).

    100 TB shape: both pair sets are explicitly bounded — truth by the
    shingle DF cap (fanout <= C(20,2) per shingle), candidates by the bucket
    cap (<= C(64,2) per bucket) — and each side collapses immediately into a
    single-row count, so the only full-corpus passes are the two shingle
    scans. The pair frames are localCheckpointed because each feeds two
    consumers (own count + the intersection); at bench scale they are KB.
    """
    docs = _t(spark, sf_dir, "documents")
    # ONE materialized shingle table feeds BOTH legs (truth pairs +
    # minhash signatures) via the ensure_* seams — the corpus-wide
    # tokenize+shingle pass runs once per session, not per audit query
    truth = (
        ensure_shingle_pairs(spark, sf_dir)
        .where(F.col("jaccard_x1e6") >= _ERB_JX)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    sig = ensure_minhash_sig(spark, sf_dir)
    # feeds bsz AND the kept join
    bands = _sig_bands(sig).localCheckpoint(eager=True)
    bsz = (
        bands.groupBy("band", "sig_v")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n").between(2, _ERB_BUCKET_CAP))
        .select("band", "sig_v")
    )
    kept = bands.join(bsz, on=["band", "sig_v"], how="left_semi")
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig_v") == F.col("b.sig_v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_hit = truth.join(cand, on=["doc_a", "doc_b"], how="left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    row = n_docs.crossJoin(n_truth).crossJoin(n_cand).crossJoin(n_hit)
    return row.select(
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_cand").cast("bigint").alias("n_cand"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.expr(
            "CAST(CASE WHEN n_truth = 0 THEN 1000000"
            " ELSE n_hit * 1000000 DIV n_truth END AS BIGINT)"
        ).alias("pc_x1e6"),
        F.expr(
            "CAST(1000000 - n_cand * 1000000"
            " DIV (n_docs * (n_docs - 1) DIV 2) AS BIGINT)"
        ).alias("rr_x1e6"),
    )

@_q(
    "curate_train_labels",
    f"""{_TOKS_CTE},
    {_moments_cte(_LANG_HITS_SQL)},
    lab AS (SELECT m.doc_id,
                   CAST(LEAST(n_tokens, 200) * 2
                        + alpha * 300 // n_tokens
                        + CASE WHEN stops * 100 // n_tokens BETWEEN 2 AND 40
                               THEN 300 ELSE 0 END AS BIGINT)
                     AS quality_x1000,
                   CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits
                             AND en_hits > 0 THEN 'en'
                        WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                        WHEN fr_hits > 0 THEN 'fr'
                        ELSE 'unknown' END AS lang_pred,
                   d.lang, CAST(n_tokens AS BIGINT) AS n_tokens,
                   ('0x' || substring(md5(CAST(m.doc_id AS VARCHAR)), 1, 12)
                   )::BIGINT % 1000000 AS h
            FROM m JOIN documents d ON d.doc_id = m.doc_id),
    l2 AS (SELECT doc_id, quality_x1000, lang_pred, n_tokens, h,
                  CASE WHEN quality_x1000 >= 600 AND lang_pred = lang
                       THEN 1 ELSE 0 END AS label
           FROM lab),
    c AS (SELECT SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS n_pos,
                 SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS n_neg
          FROM l2)
    SELECT doc_id, CAST(label AS BIGINT) AS label, quality_x1000,
           lang_pred, n_tokens
    FROM l2 CROSS JOIN c
    WHERE (label = 1 AND n_pos <= n_neg)
       OR (label = 0 AND n_neg < n_pos)
       OR (label = 1 AND h * n_pos < n_neg * 1000000)
       OR (label = 0 AND h * n_neg < n_pos * 1000000)
    ORDER BY label DESC, doc_id ASC""",
)
def curate_train_labels(spark, sf_dir):
    """Quality-classifier training-set export (the CCNet/GPT-3 filter
    prep): every document scored by the text_quality formula and the
    n-gram language heuristic, weakly labeled keep(1)/drop(0) — keep =
    quality >= 600 AND predicted language agrees with the declared one —
    then class-balanced by DETERMINISTIC hash-threshold downsampling of
    the majority class (each majority row survives iff its 48-bit md5
    draw, scaled to [0, 1e6), falls below minority/majority — the
    cross-multiplied form avoids both the division and the zero-divide).

    Scale shape: one map-side-combinable token aggregate (the same shuffle
    text_quality pays), a doc_id-co-located join back for the declared
    lang, ONE two-scalar global count broadcast back, and a NARROW hash
    filter — no per-class global window, the trap that serializes exact
    row_number balancing onto two partitions at 100 TB. Output order is
    total (label, doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    m = _moments(toks, *_lang_hit_cols())
    lab = m.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.expr(_QUALITY_SQL).alias("quality_x1000"),
        _lang_pred().alias("lang_pred"),
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).alias("h"),
    )
    l2 = lab.withColumn(
        "label",
        (
            (F.col("quality_x1000") >= 600)
            & (F.col("lang_pred") == F.col("lang"))
        )
        .cast("int")
        .alias("label"),
    )
    c = l2.agg(
        F.sum((F.col("label") == 1).cast("long")).alias("n_pos"),
        F.sum((F.col("label") == 0).cast("long")).alias("n_neg"),
    )
    keep = (
        ((F.col("label") == 1) & (F.col("n_pos") <= F.col("n_neg")))
        | ((F.col("label") == 0) & (F.col("n_neg") < F.col("n_pos")))
        | (
            (F.col("label") == 1)
            & (F.col("h") * F.col("n_pos") < F.col("n_neg") * F.lit(1000000))
        )
        | (
            (F.col("label") == 0)
            & (F.col("h") * F.col("n_neg") < F.col("n_pos") * F.lit(1000000))
        )
    )
    return (
        l2.crossJoin(F.broadcast(c))
        .where(keep)
        .select(
            "doc_id",
            F.col("label").cast("bigint").alias("label"),
            "quality_x1000",
            "lang_pred",
            "n_tokens",
        )
        .orderBy(F.desc("label"), F.asc("doc_id"))
    )

# Event transition pairs (s/t): a LEAD over each user's events in
# (ts, event_id) order, counted per (from_type, to_type).
_MKV_T_CTE = """WITH s AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events WHERE user_id IS NOT NULL),
    t AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
          WHERE to_type IS NOT NULL GROUP BY from_type, to_type)"""


def _transition_counts(spark, sf_dir) -> DataFrame:
    """(from_type, to_type, n): consecutive event pairs per user in
    (ts, event_id) order, null users dropped — the Spark twin of
    _MKV_T_CTE."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL")
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _markov_power(cells) -> tuple:
    """Integer power iteration over collected transition counts: returns
    (states, count matrix c, row sums r, pi) with pi in millionths after
    _MKV_ITERS steps. Every term truncates and pi renormalizes to 1e6, as
    in the oracle's _MKV_CTES; a state with no outgoing transition keeps
    its mass."""
    states = sorted(
        {c["from_type"] for c in cells} | {c["to_type"] for c in cells}
    )
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    c = [[0] * k for _ in range(k)]
    for row in cells:
        c[idx[row["from_type"]]][idx[row["to_type"]]] = row["n"]
    r = [sum(c[i]) for i in range(k)]
    pi = [1_000_000 // k] * k
    for _ in range(_MKV_ITERS):
        nxt = [0] * k
        for i in range(k):
            if r[i] == 0:
                nxt[i] += pi[i]  # absorbing state keeps its mass
                continue
            for j in range(k):
                if c[i][j]:
                    nxt[j] += (pi[i] * c[i][j]) // r[i]
        tot = sum(nxt)
        pi = [v * 1_000_000 // tot for v in nxt]
    return states, c, r, pi


@_q(
    "events_markov_transitions",
    f"""{_MKV_T_CTE},
    r AS (SELECT from_type, SUM(n) AS row_n FROM t GROUP BY from_type)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           CAST(t.n * 1000000 // r.row_n AS BIGINT) AS p_x1e6
    FROM t JOIN r ON r.from_type = t.from_type
    ORDER BY t.from_type ASC, t.to_type ASC""",
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    counts and row-normalized probabilities for every (from_type ->
    to_type) consecutive pair — the behavioral n-gram model behind funnel
    discovery and bot detection (a user whose transition row is a spike is
    a script). Tie order within a timestamp is pinned by event_id, the
    same total order events_sessions and the asof family use; null users
    are dropped up front (the shared null-key discipline of the stateful
    operators).

    Scale shape: ONE user-keyed window (partitioned shuffle, never
    global), a map-side-combinable pair count whose result is
    grammar-sized (|event_type|^2), and a grammar-sized self-join for row
    normalization. Probability is scaled-integer floor division, exact on
    both engines."""
    t = _transition_counts(spark, sf_dir)
    r = t.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        t.join(r, "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr("CAST(n * 1000000 DIV row_n AS BIGINT)").alias("p_x1e6"),
        )
        .orderBy(F.asc("from_type"), F.asc("to_type"))
    )

@_q(
    "search_hybrid_rrf",
    f"""{_EMB_CTE},
    dots AS (
      SELECT b.vec_id,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot,
             SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
             SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
      FROM e a JOIN e b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
      GROUP BY b.vec_id),
    vshort AS (
      SELECT vec_id AS doc_id,
             CAST(ROUND(dot / (na * nb) * 1e6) AS BIGINT) AS cos_x1e6
      FROM dots ORDER BY cos_x1e6 DESC, doc_id ASC LIMIT 50),
    vrank AS (SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY cos_x1e6 DESC, doc_id ASC) AS rank_vec
              FROM vshort),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
    hits AS (SELECT doc_id, COUNT(DISTINCT term) AS n_hit FROM toks
             WHERE term IN ('merge', 'window', 'hash') GROUP BY doc_id),
    tshort AS (
      SELECT h.doc_id,
             CAST(h.n_hit * 100 - CASE WHEN d.lang <> 'en' THEN 20 ELSE 0 END
                  AS BIGINT) AS relevance
      FROM hits h JOIN documents d ON d.doc_id = h.doc_id
      ORDER BY relevance DESC, h.doc_id ASC LIMIT 50),
    trank AS (SELECT doc_id, ROW_NUMBER() OVER (
                ORDER BY relevance DESC, doc_id ASC) AS rank_text
              FROM tshort),
    fused AS (
      SELECT COALESCE(v.doc_id, t.doc_id) AS doc_id,
             v.rank_vec, t.rank_text,
             COALESCE(1000000 // (60 + v.rank_vec), 0)
               + COALESCE(1000000 // (60 + t.rank_text), 0) AS rrf_x1e6
      FROM vrank v FULL OUTER JOIN trank t ON t.doc_id = v.doc_id)
    SELECT doc_id,
           CAST(COALESCE(rank_vec, 0) AS BIGINT) AS rank_vec,
           CAST(COALESCE(rank_text, 0) AS BIGINT) AS rank_text,
           CAST(rrf_x1e6 AS BIGINT) AS rrf_x1e6
    FROM fused
    ORDER BY rrf_x1e6 DESC, doc_id ASC LIMIT 20""",
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009):
    the modern RAG-retrieval shape — a dense leg (brute-force cosine vs
    query vec_id 0) and a sparse leg (term-overlap relevance with the
    kg_search_scored lang penalty) each produce a BOUNDED top-50
    shortlist, then RRF (sum of 1e6/(60+rank), integer floor) fuses them;
    a hit on both legs compounds. doc_id and vec_id share the id space in
    the synthetic corpus (the embedding of document i is row i).

    Scale shape: each leg ends in TakeOrderedAndProject (never a global
    sort); the ONLY windows are rank assignments over the 50-row
    shortlists (result-sized, driver-irrelevant); the fusion join is
    shortlist x shortlist. This is exactly the architecture that scales:
    rank fusion touches candidates, not the corpus."""
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    cand = _fan_out(emb.where(F.col("vec_id") != 0)).crossJoin(
        F.broadcast(_query_vec(emb))
    )
    cos = _cos("embedding", "q_emb")
    vshort = (
        cand.select(
            F.col("vec_id").alias("doc_id"),
            F.round(cos * 1e6).cast("bigint").alias("cos_x1e6"),
        )
        .orderBy(F.desc("cos_x1e6"), F.asc("doc_id"))
        .limit(50)
    )
    vrank = vshort.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_x1e6"), F.asc("doc_id")))
        .alias("rank_vec"),
    )
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    hits = (
        toks.where(F.col("term").isin("merge", "window", "hash"))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_hit"))
    )
    tshort = (
        hits.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            (
                F.col("n_hit") * 100
                - F.when(F.col("lang") != "en", 20).otherwise(0)
            )
            .cast("bigint")
            .alias("relevance"),
        )
        .orderBy(F.desc("relevance"), F.asc("doc_id"))
        .limit(50)
    )
    trank = tshort.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("relevance"), F.asc("doc_id")))
        .alias("rank_text"),
    )
    fused = vrank.join(trank, "doc_id", "full").select(
        "doc_id",
        "rank_vec",
        "rank_text",
        (
            F.coalesce(
                F.expr("1000000 DIV (60 + rank_vec)"), F.lit(0)
            )
            + F.coalesce(
                F.expr("1000000 DIV (60 + rank_text)"), F.lit(0)
            )
        ).alias("rrf_x1e6"),
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce("rank_vec", F.lit(0)).cast("bigint").alias("rank_vec"),
            F.coalesce("rank_text", F.lit(0))
            .cast("bigint")
            .alias("rank_text"),
            F.col("rrf_x1e6").cast("bigint").alias("rrf_x1e6"),
        )
        .orderBy(F.desc("rrf_x1e6"), F.asc("doc_id"))
        .limit(20)
    )

@_q(
    "events_json_props",
    """WITH p AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events WHERE props IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(k) AS BIGINT) AS k_min,
           CAST(MAX(k) AS BIGINT) AS k_max,
           CAST(SUM(k) AS BIGINT) AS k_sum,
           CAST(SUM(k) * 100 // COUNT(*) AS BIGINT) AS k_avg_x100
    FROM p WHERE k IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type ASC""",
)
def events_json_props(spark, sf_dir):
    """Semi-structured property extraction: pull a typed field out of the
    JSON `props` payload (the clickstream-schema reality: half the signal
    rides in a JSON blob) and aggregate it per event type — the operator
    family behind every "parse the props" ETL stage. Extraction uses
    Catalyst's JSON path (`get_json_object`, JVM-side, codegen-fused into
    the scan projection) — NOT a Python UDF; null payloads and
    non-numeric fields degrade to NULL and are filtered, never thrown.

    Scale shape: scan-fused JSON path + one map-side-combinable aggregate
    keyed by event_type (grammar-sized result). At 100 TB the only cost
    is the scan itself; prefer from_json with an explicit schema when
    MULTIPLE fields are pulled (one parse, many fields) — single-field
    extraction is exactly get_json_object's sweet spot."""
    ev = _t(spark, sf_dir, "events").where(F.col("props").isNotNull())
    p = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    ).where(F.col("k").isNotNull())
    return (
        p.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("k").cast("bigint").alias("k_min"),
            F.max("k").cast("bigint").alias("k_max"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
        .select(
            "event_type",
            "n",
            "k_min",
            "k_max",
            "k_sum",
            F.expr("CAST(k_sum * 100 DIV n AS BIGINT)").alias("k_avg_x100"),
        )
        .orderBy(F.asc("event_type"))
    )


# =============================================================================
# Count-Min Sketch frequency estimation (the third mergeable sketch, next to
# KMV cardinality and Misra-Gries heavy hitters)
# =============================================================================

_CMS_D = 3    # hash rows
_CMS_W = 64   # buckets per row


def _cms_cell_expr(d: int, col: str) -> str:
    """48-bit md5-prefix hash of (row-index : key), folded into the row's W
    buckets — the one hash rule both engines evaluate bit-identically."""
    return (
        f"CAST(conv(substr(md5(CONCAT('{d}', ':', CAST({col} AS STRING))), "
        f"1, 12), 16, 10) AS BIGINT) % {_CMS_W}"
    )


_CMS_CELL_SQL = (
    "CAST(('0x' || substr(md5(CAST({d} AS VARCHAR) || ':' "
    "|| CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % " + str(_CMS_W)
)


@_q(
    "events_cms_topk",
    f"""WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    ds AS (SELECT unnest([0, 1, 2]) AS d),
    cells AS (SELECT ds.d, {_CMS_CELL_SQL.format(d='ds.d')} AS cell
              FROM ev CROSS JOIN ds),
    sketch AS (SELECT d, cell, COUNT(*) AS n FROM cells GROUP BY 1, 2),
    ks AS (SELECT DISTINCT user_id FROM ev),
    kc AS (SELECT ks.user_id, ds.d, {_CMS_CELL_SQL.format(d='ds.d')} AS cell
           FROM ks CROSS JOIN ds),
    est AS (SELECT kc.user_id, MIN(s.n) AS est_cms
            FROM kc JOIN sketch s ON s.d = kc.d AND s.cell = kc.cell
            GROUP BY kc.user_id),
    exact AS (SELECT user_id, COUNT(*) AS n_exact FROM ev GROUP BY user_id)
    SELECT e.user_id,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(e.est_cms AS BIGINT) AS est_cms
    FROM est e JOIN exact x ON x.user_id = e.user_id
    ORDER BY est_cms DESC, e.user_id ASC LIMIT 10""",
)
def events_cms_topk(spark, sf_dir):
    """Count-Min Sketch frequency estimates: a D x W (3 x 64) counter grid
    keyed by D independent md5-derived hashes; a key's estimate is the MIN
    over its D cells — always >= the true count, with the overestimate
    bounded by collision mass. The exact count rides along as the
    verification column, and the oracle twin recomputes the identical
    sketch, so the deterministic estimate itself is cross-checked, not
    just the exact leg.

    This completes the engine's mergeable-sketch trio (KMV = distinct
    count, Misra-Gries = heavy hitters, CMS = point frequency): two CMS
    grids merge by cell-wise SUM, so at 100 TB each partition builds its
    local grid map-side and the combine is a (D*W)-row shuffle —
    `groupBy(d, cell).count()` below IS that shape (partial aggregation
    emits <=192 rows per task regardless of corpus size). The estimate
    join probes a broadcast-sized sketch (192 rows); candidate keys at
    scale come from a heavy-hitter pre-pass (events_heavy_hitters), not
    a full-cardinality distinct — here the test-scale candidate set is
    the distinct key set so the oracle can check every estimate.

    Reference analog: none (the reference counts exactly); task addendum
    sketch family (frequency leg)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.expr(_cms_cell_expr(d, "user_id")).alias("cell"),
            )
            for d in range(_CMS_D)
        ]
    )
    cells = ev.select(F.explode(cell_structs).alias("x")).select(
        F.col("x.d").alias("d"), F.col("x.cell").alias("cell")
    )
    sketch = cells.groupBy("d", "cell").agg(F.count(F.lit(1)).alias("n"))
    keys = ev.select("user_id").distinct()
    kc = keys.select("user_id", F.explode(cell_structs).alias("x")).select(
        "user_id", F.col("x.d").alias("d"), F.col("x.cell").alias("cell")
    )
    est = (
        kc.join(F.broadcast(sketch), ["d", "cell"])
        .groupBy("user_id")
        .agg(F.min("n").alias("est_cms"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("est_cms").cast("bigint").alias("est_cms"),
        )
        .orderBy(F.desc("est_cms"), F.asc("user_id"))
        .limit(10)
    )


# =============================================================================
# Quantile estimation from a deterministic bottom-K hash sample (the
# mergeable-quantile leg of the sketch family)
# =============================================================================

_QS_K = 128            # sample size per group
_QS_QUANTS = (50, 90, 99)


@_q(
    "events_quantile_sample",
    f"""WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v,
             event_id,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
    qs AS (SELECT unnest([50, 90, 99]) AS q),
    full_r AS (SELECT event_type, v, event_id,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY v ASC, event_id ASC) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM base),
    exact AS (SELECT f.event_type, qs.q, f.v AS exact_x1e6
              FROM full_r f CROSS JOIN qs
              WHERE f.rn = (qs.q * f.n + 99) // 100),
    samp0 AS (SELECT event_type, v, event_id,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY h ASC, event_id ASC) AS hr
              FROM base),
    samp AS (SELECT event_type, v, event_id,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY v ASC, event_id ASC) AS srn,
                    COUNT(*) OVER (PARTITION BY event_type) AS ns
             FROM samp0 WHERE hr <= {_QS_K}),
    est AS (SELECT s.event_type, qs.q, s.v AS est_x1e6
            FROM samp s CROSS JOIN qs
            WHERE s.srn = (qs.q * s.ns + 99) // 100)
    SELECT e.event_type, e.q,
           CAST(e.exact_x1e6 AS BIGINT) AS exact_x1e6,
           CAST(s.est_x1e6 AS BIGINT) AS est_x1e6
    FROM exact e JOIN est s ON s.event_type = e.event_type AND s.q = e.q
    ORDER BY e.event_type ASC, e.q ASC""",
)
def events_quantile_sample(spark, sf_dir):
    """Per-group quantiles (p50/p90/p99 of `value`) estimated from a
    deterministic bottom-K hash sample, with the exact quantile riding
    along as the verification column. The sample is the K rows whose
    48-bit md5(event_id) hashes are smallest within the group — the SAME
    mergeable bottom-K rule as the KMV sketch, so two partition samples
    merge by union + re-take-K, and the estimate is a pure function of
    the data (no RNG, both engines compute the identical sample).
    Quantile rank is ceil(q*n/100) in integer math over a total
    (value, event_id) order — no interpolation, no float summation.

    Scale shape: at 100 TB the EXACT leg (a per-group total sort) is the
    thing you cannot afford — the bottom-K sample leg is the scale path:
    a narrow scan emitting per-partition K-minima (map-side, bounded),
    one K-rows-per-group shuffle to merge, and a K-row sort per group.
    Here both legs run so the oracle pins the estimator's determinism;
    the windows are PARTITIONed by group key, so even the exact leg
    parallelizes across groups rather than one global sort.

    Reference analog: none; task addendum sketch family (quantile leg)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("v"),
        "event_id",
        F.expr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 12), 16, 10) "
            "AS BIGINT)"
        ).alias("h"),
    )
    quants = spark.createDataFrame(
        [(q,) for q in _QS_QUANTS], "q int"
    )
    w_v = Window.partitionBy("event_type").orderBy(
        F.asc("v"), F.asc("event_id")
    )
    w_n = Window.partitionBy("event_type")
    full_r = base.withColumn("rn", F.row_number().over(w_v)).withColumn(
        "n", F.count(F.lit(1)).over(w_n)
    )
    exact = (
        full_r.join(F.broadcast(quants))
        .where(F.col("rn") == F.expr("(q * n + 99) DIV 100"))
        .select("event_type", "q", F.col("v").alias("exact_x1e6"))
    )
    w_h = Window.partitionBy("event_type").orderBy(
        F.asc("h"), F.asc("event_id")
    )
    samp = (
        base.withColumn("hr", F.row_number().over(w_h))
        .where(F.col("hr") <= _QS_K)
        .withColumn("srn", F.row_number().over(w_v))
        .withColumn("ns", F.count(F.lit(1)).over(w_n))
    )
    est = (
        samp.join(F.broadcast(quants))
        .where(F.col("srn") == F.expr("(q * ns + 99) DIV 100"))
        .select("event_type", "q", F.col("v").alias("est_x1e6"))
    )
    return (
        exact.join(est, ["event_type", "q"])
        .select(
            "event_type",
            "q",
            F.col("exact_x1e6").cast("bigint").alias("exact_x1e6"),
            F.col("est_x1e6").cast("bigint").alias("est_x1e6"),
        )
        .orderBy(F.asc("event_type"), F.asc("q"))
    )


_CLF_D = 256  # hashed-feature buckets; the weight table is <= _CLF_D rows

# Shared oracle prefix for the hashed quality classifier: weak labels ->
# bucket weights -> per-doc scores. curate_clf_score appends the score
# projection; curate_calibration appends the decile-bucketed audit.
_CLF_SC_CTE = f"""{_TOKS_CTE},
    {_moments_cte(_LANG_HITS_SQL)},
    lab AS (SELECT m.doc_id,
                   CASE WHEN CAST(LEAST(n_tokens, 200) * 2
                             + alpha * 300 // n_tokens
                             + CASE WHEN stops * 100 // n_tokens
                                         BETWEEN 2 AND 40
                                    THEN 300 ELSE 0 END AS BIGINT) >= 600
                         AND (CASE WHEN en_hits >= de_hits
                                        AND en_hits >= fr_hits
                                        AND en_hits > 0 THEN 'en'
                                   WHEN de_hits >= fr_hits AND de_hits > 0
                                        THEN 'de'
                                   WHEN fr_hits > 0 THEN 'fr'
                                   ELSE 'unknown' END) = d.lang
                        THEN 1 ELSE 0 END AS label
            FROM m JOIN documents d ON d.doc_id = m.doc_id),
    cnt AS (SELECT doc_id,
                   ('0x' || substring(md5(term), 1, 12))::BIGINT % {_CLF_D}
                     AS b,
                   COUNT(*) AS c
            FROM toks GROUP BY 1, 2),
    wt AS (SELECT b,
                  CAST((SUM(c * label) + 1) * 1000000
                       // (SUM(c) + 2) AS BIGINT) AS w
           FROM cnt JOIN lab USING (doc_id) GROUP BY b),
    sc AS (SELECT doc_id, SUM(c * w) AS swc, SUM(c) AS n
           FROM cnt JOIN wt USING (b) GROUP BY doc_id)"""


@_q(
    "curate_clf_score",
    f"""{_CLF_SC_CTE}
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(swc // n AS BIGINT) AS clf_score_x1e6,
           CAST(CASE WHEN swc // n >= 500000 THEN 1 ELSE 0 END AS BIGINT)
             AS keep
    FROM sc ORDER BY clf_score_x1e6 DESC, doc_id ASC""",
)
def curate_clf_score(spark, sf_dir):
    """Hashed quality-classifier TRAIN + INFERENCE in one job (the
    fastText/CCNet filter stage of an LLM data pipeline, trained on the
    same weak labels curate_train_labels exports): tokens hash into
    _CLF_D=256 feature buckets; the per-bucket weight is the smoothed
    posterior P(keep | bucket) in integer millionths,
    w(b) = (pos_occ+1)*1e6 DIV (occ+2), learned from the weak label
    (quality >= 600 AND predicted language agrees); a document's score is
    the occurrence-weighted mean bucket weight, keep iff >= 500000. All
    integer math, no RNG — both engines compute identical weights.

    Scale shape: TRAINING on 100 TB is one map-side-combinable
    (doc_id, bucket) count, a doc_id-keyed join with the label table
    (both sides already hash-partitioned by doc_id), and an aggregate
    down to <= 256 weight rows. INFERENCE is a broadcast join of that
    256-row table against the counts plus one per-doc aggregate — no
    shuffle of raw token rows, no driver-side model state beyond the
    broadcast. The trap this avoids: joining the label onto every token
    OCCURRENCE (shuffles the whole token stream); counts-first makes the
    join side |docs|x|distinct buckets| bounded.

    Reference analog: none (query addendum — training-data curation
    family; pairs with curate_train_labels / curate_documents)."""
    sc = _clf_doc_scores(spark, sf_dir)
    return sc.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.expr("CAST(swc DIV n AS BIGINT)").alias("clf_score_x1e6"),
        F.expr(
            "CAST(CASE WHEN swc DIV n >= 500000 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("keep"),
    ).orderBy(F.desc("clf_score_x1e6"), F.asc("doc_id"))


def _clf_doc_scores(spark, sf_dir):
    """(doc_id, swc, n, label): hashed-classifier train+infer core shared by
    curate_clf_score (score projection) and curate_calibration (decile
    audit) — one definition, so the two queries can never drift."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    m = _moments(toks, *_lang_hit_cols())
    quality = F.expr(_QUALITY_SQL)
    lang_pred = _lang_pred()
    lab = m.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        ((quality >= 600) & (lang_pred == F.col("lang")))
        .cast("int")
        .alias("label"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10).cast(
            "bigint"
        )
        % _CLF_D
    )
    cnt = (
        toks.select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = (
        cnt.join(lab, "doc_id")
        .groupBy("b")
        .agg(
            F.sum(F.col("c") * F.col("label")).alias("pos_occ"),
            F.sum("c").alias("occ"),
        )
        .select(
            "b",
            F.expr(
                "CAST((pos_occ + 1) * 1000000 DIV (occ + 2) AS BIGINT)"
            ).alias("w"),
        )
    )
    sc = (
        cnt.join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("w")).alias("swc"),
            F.sum("c").alias("n"),
        )
    )
    return sc.join(lab, "doc_id")


_BLOOM_M = 4096  # bits
_BLOOM_W = 32    # bits packed per word (positive range of an int32 shift)


def _bloom_h_sql(j: int, col: str) -> str:
    """48-bit md5 position for hash j of `col`, mod _BLOOM_M (DuckDB)."""
    return (
        f"('0x' || substring(md5('b{j}:' || CAST({col} AS VARCHAR)), 1, 12)"
        f")::BIGINT % {_BLOOM_M}"
    )


@_q(
    "events_bloom_prune",
    f"""WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
    lastev AS (SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn FROM ev),
    flg AS (SELECT user_id FROM lastev WHERE rn = 1
            AND event_type = 'error'),
    pos AS (SELECT {_bloom_h_sql(1, "user_id")} AS p FROM flg
            UNION ALL
            SELECT {_bloom_h_sql(2, "user_id")} AS p FROM flg),
    bloom AS (SELECT p // {_BLOOM_W} AS w,
                     bit_or(CAST(1 AS BIGINT)
                            << CAST(p % {_BLOOM_W} AS INT)) AS bits
              FROM pos GROUP BY 1),
    probe AS (SELECT event_id, user_id,
                     {_bloom_h_sql(1, "user_id")} AS h1,
                     {_bloom_h_sql(2, "user_id")} AS h2
              FROM ev),
    passed AS (SELECT pr.event_id, pr.user_id FROM probe pr
               LEFT JOIN bloom b1 ON b1.w = pr.h1 // {_BLOOM_W}
               LEFT JOIN bloom b2 ON b2.w = pr.h2 // {_BLOOM_W}
               WHERE (COALESCE(b1.bits, 0)
                      & (CAST(1 AS BIGINT)
                         << CAST(pr.h1 % {_BLOOM_W} AS INT))) <> 0
                 AND (COALESCE(b2.bits, 0)
                      & (CAST(1 AS BIGINT)
                         << CAST(pr.h2 % {_BLOOM_W} AS INT))) <> 0),
    c AS (SELECT
            (SELECT COUNT(*) FROM flg) AS n_flagged,
            (SELECT COUNT(*) FROM ev) AS n_events,
            (SELECT COUNT(*) FROM ev
             WHERE user_id IN (SELECT user_id FROM flg)) AS n_exact,
            (SELECT COUNT(*) FROM passed) AS n_bloom)
    SELECT CAST(n_flagged AS BIGINT) AS n_flagged,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_bloom AS BIGINT) AS n_bloom,
           CAST(n_bloom - n_exact AS BIGINT) AS n_false_pos,
           CAST(CASE WHEN n_events = n_exact THEN 0
                     ELSE (n_bloom - n_exact) * 1000000
                          // (n_events - n_exact) END AS BIGINT)
             AS fp_rate_x1e6
    FROM c""",
)
def events_bloom_prune(spark, sf_dir):
    """Broadcast Bloom-filter semi-join pruning — THE 100 TB pattern for
    'filter a huge fact table by a derived dimension without shuffling
    the facts': churn-risk users (those whose LAST event is an error,
    ties broken by event_id) are folded into a {_BLOOM_M}-bit Bloom
    filter (k=2 md5 hashes, bits packed {_BLOOM_W}/word so every shift
    stays in positive int range on both engines); the fact scan probes
    the <=128-word filter via broadcast joins and only surviving rows
    would continue into the expensive join. The exact semi-join runs
    alongside so the output row REPORTS the filter's measured false-
    positive rate — the sketch's quality is part of the contract, the
    same discipline as the KMV and CMS queries.

    Scale shape: the filter build aggregates to <=128 (word, bits) rows
    (map-side combinable bit_or); the probe is two broadcast hash joins
    + a narrow filter — the 100 TB fact side is never shuffled; the
    exact leg here is verification only (at scale you'd skip it — that
    is the point of the filter). Spark's own runtime bloom pushdown
    (spark.sql.optimizer.runtime.bloomFilter) does this transparently;
    this operator is the EXPLICIT, engine-checked form with a measured
    FP rate.

    Reference analog: none (sketch-family addendum: membership, joining
    KMV=distinct, CMS=frequency)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    flg = (
        ev.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("event_type") == "error"))
        .select("user_id")
    )

    def h(j, c):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"b{j}:"), F.col(c).cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_M
        )

    pos = flg.select(h(1, "user_id").alias("p")).unionAll(
        flg.select(h(2, "user_id").alias("p"))
    )
    bloom = (
        pos.select(
            (F.col("p") / _BLOOM_W).cast("bigint").alias("w"),
            F.expr(f"shiftleft(1L, CAST(p % {_BLOOM_W} AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    probe = ev.select(
        "event_id", "user_id", h(1, "user_id").alias("h1"),
        h(2, "user_id").alias("h2"),
    )
    b1 = F.broadcast(
        bloom.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    )
    b2 = F.broadcast(
        bloom.select(F.col("w").alias("w2"), F.col("bits").alias("bits2"))
    )
    passed = (
        probe.join(b1, F.expr(f"h1 div {_BLOOM_W} = w1"), "left")
        .join(b2, F.expr(f"h2 div {_BLOOM_W} = w2"), "left")
        .where(
            F.expr(
                f"(coalesce(bits1, 0L) & shiftleft(1L, CAST(h1 % {_BLOOM_W}"
                " AS INT))) <> 0"
            )
            & F.expr(
                f"(coalesce(bits2, 0L) & shiftleft(1L, CAST(h2 % {_BLOOM_W}"
                " AS INT))) <> 0"
            )
        )
    )
    n_flagged = flg.agg(F.count(F.lit(1)).alias("n_flagged"))
    n_events = ev.agg(F.count(F.lit(1)).alias("n_events"))
    n_exact = ev.join(flg, "user_id", "left_semi").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    n_bloom = passed.agg(F.count(F.lit(1)).alias("n_bloom"))
    return (
        n_flagged.crossJoin(n_events)
        .crossJoin(n_exact)
        .crossJoin(n_bloom)
        .select(
            F.col("n_flagged").cast("bigint").alias("n_flagged"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_bloom").cast("bigint").alias("n_bloom"),
            F.expr("CAST(n_bloom - n_exact AS BIGINT)").alias(
                "n_false_pos"
            ),
            F.expr(
                "CAST(CASE WHEN n_events = n_exact THEN 0"
                " ELSE (n_bloom - n_exact) * 1000000"
                " DIV (n_events - n_exact) END AS BIGINT)"
            ).alias("fp_rate_x1e6"),
        )
    )


@_q(
    "dedup_containment",
    f"""{_SHINGLE_PAIRS_CTE}
    SELECT p.doc_a, p.doc_b, CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(p.n_shared * 1000000 // sa.n AS BIGINT) AS cont_a_x1e6,
           CAST(p.n_shared * 1000000 // sb.n AS BIGINT) AS cont_b_x1e6
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_shared >= 2
      AND GREATEST(p.n_shared * 1000000 // sa.n,
                   p.n_shared * 1000000 // sb.n) >= 700000""",
)
def dedup_containment(spark, sf_dir):
    """Asymmetric CONTAINMENT near-dup detection (Broder 1997's other
    resemblance measure): C(A in B) = |S_A intersect S_B| / |S_A| — the
    'small doc embedded in a larger doc' case (quoted articles, wrapper
    pages, aggregator copies) that symmetric Jaccard structurally
    misses: a 100-shingle doc fully contained in a 10,000-shingle doc
    has Jaccard ~0.01 but containment 1.0. Emits pairs where EITHER
    direction's containment >= 0.7, both directions reported.

    Scale shape: identical to dedup_shingle_pairs — the _SHINGLE_DF_CAP
    pre-filter bounds per-shingle fanout at C(K,2) BEFORE the self-join
    (the quadratic-risk bound is part of the operator definition on both
    engines); sizes is a map-side-combinable count; the final filter is
    narrow. Containment costs nothing extra over Jaccard: same shared
    counts, two divisions instead of one.

    Reference analog: none (dedup-family addendum; completes resemblance
    [Jaccard] with containment from the same Broder framework)."""
    sh = _df_capped(ensure_shingles(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    return (
        _pair_counts(sh)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr("CAST(n_shared * 1000000 DIV na AS BIGINT)").alias(
                "cont_a_x1e6"
            ),
            F.expr("CAST(n_shared * 1000000 DIV nb AS BIGINT)").alias(
                "cont_b_x1e6"
            ),
        )
        .where(
            F.greatest("cont_a_x1e6", "cont_b_x1e6") >= 700000
        )
    )


@_q(
    "sample_dsir",
    f"""{_TOKS_CTE},
    cnt AS (SELECT doc_id,
                   ('0x' || substring(md5(term), 1, 12))::BIGINT % {_CLF_D}
                     AS b,
                   COUNT(*) AS c
            FROM toks GROUP BY 1, 2),
    tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    bs AS (SELECT b, SUM(c) AS c_raw,
                  SUM(CASE WHEN doc_id IN (SELECT doc_id FROM tgt)
                      THEN c ELSE 0 END) AS c_tgt
           FROM cnt GROUP BY b),
    tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM bs),
    sb AS (SELECT b,
                  (c_tgt + 1) * 1000000 // (tot.n_tgt + {_CLF_D}) AS pt,
                  (c_raw + 1) * 1000000 // (tot.n_raw + {_CLF_D}) AS pr
           FROM bs CROSS JOIN tot),
    sw AS (SELECT b, (pt - pr) * 1000000 // (pt + pr) AS s FROM sb),
    ds AS (SELECT cnt.doc_id, SUM(cnt.c * sw.s) AS raw, SUM(cnt.c) AS n
           FROM cnt JOIN sw USING (b) GROUP BY cnt.doc_id),
    sc AS (SELECT doc_id, raw // n AS w,
                  LEAST(1000000, GREATEST(0, 500000 + (raw // n) // 2))
                    AS p,
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                  )::BIGINT % 1000000 AS draw
           FROM ds)
    SELECT doc_id, CAST(w AS BIGINT) AS dsir_score_x1e6,
           CAST(p AS BIGINT) AS accept_p_x1e6
    FROM sc WHERE draw < p
    ORDER BY doc_id ASC""",
)
def sample_dsir(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023, integer
    surrogate): documents are re-weighted toward a TARGET domain (here
    the lang='en' slice) by comparing hashed-unigram bucket
    distributions. Per bucket, s(b) = (pt-pr)*1e6 DIV (pt+pr) is the
    bounded integer surrogate of log(pt/pr) (same sign, same zero,
    monotone); a document's importance is its occurrence-weighted mean
    s(b); acceptance probability = clamp(1/2 + score/2) in millionths,
    decided by the document's own md5 draw — deterministic, no RNG, both
    engines select the identical sample.

    Scale shape: bucket statistics aggregate to <= {_CLF_D} rows (ONE
    map-side-combinable pass computing raw and target counts together —
    conditional sum, not two scans); the per-doc leg reuses the
    (doc_id, bucket) count table and probes the {_CLF_D}-row score table
    via broadcast join; acceptance is a narrow hash filter. Raw token
    rows are never shuffled. Negative-division parity: Spark DIV and
    DuckDB // both truncate toward zero (pinned by the hand test).

    Reference analog: none (training-data curation addendum: the
    domain-matching resampler next to the supervised curate_clf_score)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 12), 16, 10).cast(
            "bigint"
        )
        % _CLF_D
    )
    cnt = (
        toks.select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tgt = docs.where(F.col("lang") == "en").select("doc_id")
    bs = (
        cnt.join(tgt.withColumn("_t", F.lit(1)), "doc_id", "left")
        .groupBy("b")
        .agg(
            F.sum("c").alias("c_raw"),
            F.sum(
                F.when(F.col("_t") == 1, F.col("c")).otherwise(F.lit(0))
            ).alias("c_tgt"),
        )
    )
    tot = bs.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    sw = (
        bs.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.expr(
                f"(c_tgt + 1) * 1000000 DIV (n_tgt + {_CLF_D})"
            ).alias("pt"),
            F.expr(
                f"(c_raw + 1) * 1000000 DIV (n_raw + {_CLF_D})"
            ).alias("pr"),
        )
        .select(
            "b", F.expr("(pt - pr) * 1000000 DIV (pt + pr)").alias("s")
        )
    )
    ds = (
        cnt.join(F.broadcast(sw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("s")).alias("raw"),
            F.sum("c").alias("n"),
        )
    )
    sc = ds.select(
        "doc_id",
        F.expr("raw DIV n").alias("w"),
        F.expr(
            "LEAST(1000000L, GREATEST(0L, 500000 + (raw DIV n) DIV 2))"
        ).alias("p"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).alias("draw"),
    )
    return (
        sc.where(F.col("draw") < F.col("p"))
        .select(
            "doc_id",
            F.col("w").cast("bigint").alias("dsir_score_x1e6"),
            F.col("p").cast("bigint").alias("accept_p_x1e6"),
        )
        .orderBy(F.asc("doc_id"))
    )


# =============================================================================
# Round-4c additions: session path mining, drift detection, embedding
# outlier filtering, contrastive LM curation
# =============================================================================

@_q(
    "events_top_paths",
    """WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
          FROM s),
    p AS (SELECT event_type AS t1,
                 LEAD(event_type, 1) OVER w2 AS t2,
                 LEAD(event_type, 2) OVER w2 AS t3
          FROM g WINDOW w2 AS (PARTITION BY user_id, sess
                               ORDER BY ts, event_id))
    SELECT t1, t2, t3, COUNT(*) AS n
    FROM p WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 30""",
)
def events_top_paths(spark, sf_dir):
    """Sequential pattern mining over sessionized clickstreams: the top
    within-session event-type trigrams (the 'what do users do next'
    funnel-discovery query; the n-gram view of the same session structure
    events_markov_transitions models pairwise). Session boundary = the same
    30-min gap rule as events_sessions, so all three session operators
    agree on what a session is.

    Scale shape: both windows partition by user_id (then (user_id, sess)),
    so ONE user-keyed shuffle feeds boundary detection, session numbering
    and the LEAD path expansion — no self-join, no explode; trigram counts
    are a map-side-combinable groupBy over 3-token strings and the top-k
    compiles to TakeOrderedAndProject."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events ship TIMESTAMP_NTZ; Spark won't cast that straight to long,
    # so hop through TIMESTAMP first (same dance as events_err_latency).
    ts_s = F.col("ts").cast("timestamp").cast("long")
    prev_s = F.lag("ts").over(w).cast("timestamp").cast("long")
    s = ev.withColumn(
        "new_sess",
        F.when(ts_s - prev_s > 1800, 1).otherwise(0),
    ).withColumn(
        "sess",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w2 = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    p = s.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w2).alias("t2"),
        F.lead("event_type", 2).over(w2).alias("t3"),
    )
    return (
        p.where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"), F.asc("t3"))
        .limit(30)
    )


@_q(
    "events_drift",
    """WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
                  FROM events GROUP BY 1),
    w AS (SELECT day, n,
            SUM(n) OVER (ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s_prev,
            COUNT(n) OVER (ORDER BY day
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS c_prev
          FROM d)
    SELECT day, CAST(n AS BIGINT) AS n,
           CAST((n * c_prev - s_prev) * 1000000 // s_prev AS BIGINT)
             AS dev_x1e6,
           CAST(CASE WHEN ABS((n * c_prev - s_prev) * 1000000 // s_prev)
                          >= 200000 THEN 1 ELSE 0 END AS BIGINT) AS is_drift
    FROM w WHERE c_prev >= 3 ORDER BY day ASC""",
)
def events_drift(spark, sf_dir):
    """Volume-drift detection over the event stream: each day's count vs
    its trailing-7-day mean, flagged when it deviates >=20% — the data-
    quality monitor a 100 TB ingestion pipeline runs per partition-day to
    catch upstream crawler breakage / duplication storms before they
    poison training data. The deviation is integer-exact rational
    arithmetic ((n*cnt - sum)*1e6 DIV sum), no float mean.

    Scale shape: the raw scan collapses to DAY grain first (map-side
    combinable count, output rows = #days, bounded by the calendar), so
    the unpartitioned trailing window runs over a frame that is tiny BY
    CONSTRUCTION — the single-partition window is over ~365 rows/year,
    never over events. Truncation parity: Spark DIV and DuckDB // both
    truncate toward zero (pinned by tests/test_hand.py)."""
    from pyspark.sql.window import Window

    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    dev = F.expr("(n * c_prev - s_prev) * 1000000 DIV s_prev")
    return (
        d.withColumn("s_prev", F.sum("n").over(w))
        .withColumn("c_prev", F.count("n").over(w))
        .where(F.col("c_prev") >= 3)
        .select(
            "day",
            F.col("n").cast("bigint").alias("n"),
            dev.cast("bigint").alias("dev_x1e6"),
            F.when(F.abs(dev) >= 200000, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_drift"),
        )
        .orderBy(F.asc("day"))
    )


@_q(
    "embed_outliers",
    f"""{_EMB_CTE},
    q AS (SELECT vec_id, i,
                 CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xq
          FROM e),
    s AS (SELECT i, SUM(xq) AS si FROM q GROUP BY i)
    SELECT q.vec_id, CAST(SUM(q.xq * s.si) AS BIGINT) AS align
    FROM q JOIN s USING (i)
    GROUP BY q.vec_id
    ORDER BY align ASC, vec_id ASC LIMIT 50""",
)
def embed_outliers(spark, sf_dir):
    """Embedding outlier screen: the 50 vectors LEAST aligned with the
    corpus centroid direction — the cheap sanity filter a curation
    pipeline runs before cosine dedup/ANN (off-manifold encoder failures
    and topic-foreign vectors sit far from the centroid; cosine against
    them is noise). Components are quantized to x1000 integers and scored
    as sum_i(xq_i * S_i) where S_i is the per-dimension corpus sum — the
    same ordering as dot-with-mean but fully integer-exact, so both
    engines agree bit-for-bit (no float summation-order hazard).

    Scale shape: the per-dimension sums S collapse via posexplode to a
    64-row map-side-combinable aggregate and ride the driver as a
    model-sized array (the kmeans-centroid pattern); scoring is one
    Arrow-batched numpy pass fused onto the scan — NO shuffle ever
    touches the raw vectors — and the top-k compiles to
    TakeOrderedAndProject. Quantization rounds half away from zero on
    both engines (Spark HALF_UP == DuckDB ROUND; the UDF mirrors it with
    sign*floor(abs+0.5))."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings"))
    qrows = emb.select(
        F.posexplode("embedding").alias("i", "x")
    ).select(
        "i",
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias(
            "xq"
        ),
    )
    s_rows = qrows.groupBy("i").agg(F.sum("xq").alias("si")).collect()
    dim = max(r["i"] for r in s_rows) + 1
    s_vec = np.zeros(dim, dtype=np.int64)
    for r in s_rows:
        s_vec[r["i"]] = r["si"]

    @pandas_udf("long")
    def align_udf(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype("float64")
        xq = (np.sign(m) * np.floor(np.abs(m) * 1000 + 0.5)).astype(
            "int64"
        )
        return pd.Series(xq @ s_vec)

    return (
        emb.select("vec_id", align_udf("embedding").alias("align"))
        .orderBy(F.asc("align"), F.asc("vec_id"))
        .limit(50)
    )


@_q(
    "curate_rho",
    """WITH t AS (SELECT doc_id, lang,
                         list_filter(string_split(text, ' '), x -> x <> '')
                           AS a
                  FROM documents),
    g AS (SELECT doc_id, lang,
                 unnest([a[i] || ' ' || a[i+1]
                         for i in generate_series(1, len(a)-1)]) AS g
          FROM t),
    dg AS (SELECT doc_id, g, COUNT(*) AS cg,
                  MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS is_hq
           FROM g GROUP BY doc_id, g),
    m AS (SELECT g, SUM(cg) AS c_all,
                 SUM(CASE WHEN is_hq = 1 THEN cg ELSE 0 END) AS c_hq
          FROM dg GROUP BY g),
    pre AS (SELECT string_split(g, ' ')[1] AS w1,
                   SUM(c_all) AS p_all, SUM(c_hq) AS p_hq
            FROM m GROUP BY w1),
    p AS (SELECT m.g,
                 m.c_all * 1000000 // pre.p_all AS pa,
                 CASE WHEN pre.p_hq > 0
                      THEN m.c_hq * 1000000 // pre.p_hq ELSE 0 END AS ph
          FROM m JOIN pre ON string_split(m.g, ' ')[1] = pre.w1),
    s AS (SELECT dg.doc_id,
                 SUM(dg.cg) AS nb,
                 SUM(dg.cg * p.ph) AS tot_hq,
                 SUM(dg.cg * p.pa) AS tot_all
          FROM dg JOIN p USING (g) GROUP BY dg.doc_id)
    SELECT t.doc_id,
           CAST(COALESCE(s.tot_hq // s.nb - s.tot_all // s.nb, 0)
                AS BIGINT) AS rho_x1e6,
           CAST(CASE WHEN COALESCE(s.tot_hq // s.nb - s.tot_all // s.nb, 0)
                          >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM t LEFT JOIN s USING (doc_id)""",
)
def curate_rho(spark, sf_dir):
    """Contrastive LM curation (the CCNet/rho-style filter, Wenzek et al.
    2020): fit TWO bigram LMs — a reference model on the high-quality
    slice (here lang='en', the same target the DSIR resampler uses) and a
    background model on the whole corpus — and score each document by the
    difference of its mean conditional bigram probabilities under the two.
    rho >= 0 means 'looks at least as much like the reference as like the
    average of the corpus' -> keep. Complements sample_dsir: that one is
    hashed-unigram importance RESAMPLING, this one is an explicit
    two-model likelihood-ratio FILTER. All probabilities are the same
    scaled-integer floor arithmetic text_lm_score pins.

    Scale shape: both models aggregate from ONE shared (doc_id, bigram)
    count table (the hq membership rides along as a conditional sum — one
    pass, not two corpus scans); model size is vocabulary-squared-bounded,
    orders below the corpus, and the per-doc scoring leg joins counts to
    the model on the bigram key (AQE broadcasts when it fits). Final
    per-doc agg is map-side combinable; no window, no driver state."""
    docs = _fan_out(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    t = docs.select(
        "doc_id",
        "lang",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("a"),
    )
    g = t.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 2 THEN transform("
                "sequence(0, size(a) - 2), "
                "i -> concat(a[i], ' ', a[i + 1])) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    dg = (
        g.groupBy("doc_id", "g")
        .agg(
            F.count(F.lit(1)).alias("cg"),
            F.max(
                F.when(F.col("lang") == "en", 1).otherwise(0)
            ).alias("is_hq"),
        )
        .localCheckpoint(eager=True)  # feeds both the model and the scorer
    )
    m = dg.groupBy("g").agg(
        F.sum("cg").alias("c_all"),
        F.sum(
            F.when(F.col("is_hq") == 1, F.col("cg")).otherwise(0)
        ).alias("c_hq"),
    )
    pre = (
        m.withColumn("w1", F.expr("split(g, ' ')[0]"))
        .groupBy("w1")
        .agg(F.sum("c_all").alias("p_all"), F.sum("c_hq").alias("p_hq"))
    )
    p = (
        m.withColumn("w1", F.expr("split(g, ' ')[0]"))
        .join(pre, "w1")
        .select(
            "g",
            F.expr("c_all * 1000000 DIV p_all").alias("pa"),
            F.expr(
                "CASE WHEN p_hq > 0 THEN c_hq * 1000000 DIV p_hq "
                "ELSE 0L END"
            ).alias("ph"),
        )
    )
    s = (
        dg.join(p, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("cg").alias("nb"),
            F.sum(F.expr("cg * ph")).alias("tot_hq"),
            F.sum(F.expr("cg * pa")).alias("tot_all"),
        )
    )
    rho = F.coalesce(
        F.expr("tot_hq DIV nb - tot_all DIV nb"), F.lit(0)
    )
    return t.join(s, "doc_id", "left").select(
        "doc_id",
        rho.cast("bigint").alias("rho_x1e6"),
        F.when(rho >= 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        .alias("keep"),
    )


@_q(
    "text_diversity",
    f"""{_TOKS_CTE},
    c AS (SELECT doc_id, term, COUNT(*) AS c FROM toks
          WHERE term <> '' GROUP BY doc_id, term),
    s AS (SELECT doc_id, SUM(c) AS n, SUM(c * c) AS s2
          FROM c GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE((s.n * s.n - s.s2) * 1000000 // (s.n * s.n), 0)
                AS BIGINT) AS simpson_x1e6
    FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id ASC""",
)
def text_diversity(spark, sf_dir):
    """Lexical-diversity quality signal: the Gini-Simpson index
    1 - sum((c_i/N)^2) of each document's token distribution — unlike the
    type-token ratio in text_stats it weighs HOW skewed the repetition is
    (a doc that is one word repeated 500x scores ~0; 500 distinct words
    score ~1), the signal that catches keyword-stuffed SEO spam that
    still passes a distinct-token-count filter. Computed as the exact
    integer rational (N^2 - sum(c^2)) * 1e6 DIV N^2 — no float division,
    so both engines agree bit-for-bit.

    Scale shape: tokenize is a narrow explode fused onto the scan; the
    (doc, term) count and the per-doc moment rollup are both map-side
    combinable aggregations keyed on doc_id — ONE doc-keyed shuffle total,
    the same layout every other per-doc text op shuffles on. Token-less
    docs survive via the left join with exact-zero scores."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    c = (
        _tokens(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.sum(F.expr("c * c")).alias("s2")
    )
    simpson = F.coalesce(
        F.expr("(n * n - s2) * 1000000 DIV (n * n)"), F.lit(0)
    )
    return (
        docs.select("doc_id")
        .join(s, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_tokens"),
            simpson.cast("bigint").alias("simpson_x1e6"),
        )
        .orderBy(F.asc("doc_id"))
    )


@_q(
    "curate_canonical",
    f"""WITH cc AS (SELECT * FROM ({ORACLE_SQL["dedup_cc_clusters"]}) t),
    q AS (SELECT d.doc_id, cc.cluster_id, d.n_chars
          FROM documents d JOIN cc ON cc.doc_id = d.doc_id),
    r AS (SELECT doc_id, cluster_id,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, doc_id ASC) AS rk,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS sz
          FROM q)
    SELECT doc_id, cluster_id,
           CAST(sz AS BIGINT) AS cluster_size,
           CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM r ORDER BY doc_id ASC""",
)
def curate_canonical(spark, sf_dir):
    """Canonical-representative selection: the step AFTER near-dup
    clustering that dedup_cc_clusters stops at — within each cluster keep
    exactly ONE document (longest by n_chars, doc_id as the deterministic
    tie-break) and mark the rest as drops. This is the materialized
    keep/drop decision a curation pipeline actually writes; composing it
    over the cluster map keeps one definition of 'duplicate' across the
    whole engine (same LSH buckets, same caps, same CC labels).

    Scale shape: the cluster map is 2 narrow columns per doc; the pick is
    a window over cluster_id — ONE cluster-keyed shuffle where every
    window group is a connected component of bucket-capped LSH pairs
    (boilerplate mega-buckets were already excluded upstream by
    _CC_BUCKET_CAP, so no group degenerates into a corpus-sized sort).
    Text never rides the shuffle; only (doc_id, cluster_id, n_chars)."""
    from pyspark.sql.window import Window

    cc = ensure_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    q = cc.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wsz = Window.partitionBy("cluster_id")
    return (
        q.withColumn("rk", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .select(
            "doc_id",
            "cluster_id",
            F.col("sz").cast("bigint").alias("cluster_size"),
            F.when(F.col("rk") == 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
        )
        .orderBy(F.asc("doc_id"))
    )


@_q(
    "embed_label_separation",
    """WITH e AS (SELECT label, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings WHERE label IS NOT NULL),
    q AS (SELECT label, i,
                 CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT) AS xq
          FROM e),
    sl AS (SELECT label, i, SUM(xq) AS s FROM q GROUP BY label, i),
    nl AS (SELECT label, COUNT(*) AS n
           FROM embeddings WHERE label IS NOT NULL GROUP BY label),
    tot AS (SELECT i, SUM(s) AS t FROM sl GROUP BY i),
    raw AS (SELECT sl.label,
                   SUM(sl.s * sl.s) AS intra_raw,
                   SUM(sl.s * (tot.t - sl.s)) AS cross_raw
            FROM sl JOIN tot USING (i) GROUP BY sl.label),
    ntot AS (SELECT SUM(n) AS nt FROM nl)
    SELECT r.label, CAST(nl.n AS BIGINT) AS n,
           CAST(r.intra_raw // (nl.n * nl.n) AS BIGINT) AS intra_x1e6,
           CAST(r.cross_raw // (nl.n * (ntot.nt - nl.n)) AS BIGINT)
             AS cross_x1e6,
           CAST(r.intra_raw // (nl.n * nl.n)
                - r.cross_raw // (nl.n * (ntot.nt - nl.n)) AS BIGINT)
             AS margin_x1e6
    FROM raw r JOIN nl USING (label) CROSS JOIN ntot
    ORDER BY r.label ASC""",
)
def embed_label_separation(spark, sf_dir):
    """Class-separability audit of the embedding space: per label, the
    mean intra-class dot product vs the mean cross-class dot product (and
    their margin) — the go/no-go gauge for using these embeddings in a
    label-aware curation step (mixture balancing by embedding cluster,
    classifier-filtered sampling). A near-zero or negative margin says
    the encoder does not separate that class and cosine-based routing of
    it is noise. The algebra avoids any per-pair work: with per-dimension
    label sums S_l, sum over intra pairs of dot(u, v) = |S_l|^2 and the
    cross-class mass is S_l . (S_tot - S_l) — exact, and computed from a
    (labels x dims) table. Components quantized x1000 (half-away-from-
    zero, same rule as embed_outliers) so both engines agree bit-for-bit.

    Scale shape: ONE corpus pass — a narrow posexplode into a map-side-
    combinable (label, i) aggregate with labels*64 output rows; every
    join after it is over grammar-sized frames. No self-join, no
    pairwise anything, no vector ever shuffled."""
    emb = _fan_out(
        _t(spark, sf_dir, "embeddings").where(F.col("label").isNotNull())
    )
    q = emb.select(
        "label", F.posexplode("embedding").alias("i", "x")
    ).select(
        "label",
        "i",
        F.round(F.col("x").cast("double") * 1000).cast("bigint").alias("xq"),
    )
    sl = q.groupBy("label", "i").agg(F.sum("xq").alias("s"))
    nl = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = sl.groupBy("i").agg(F.sum("s").alias("t"))
    raw = (
        sl.join(tot, "i")
        .groupBy("label")
        .agg(
            F.sum(F.expr("s * s")).alias("intra_raw"),
            F.sum(F.expr("s * (t - s)")).alias("cross_raw"),
        )
    )
    ntot = nl.agg(F.sum("n").alias("nt"))
    return (
        raw.join(nl, "label")
        .crossJoin(F.broadcast(ntot))
        .select(
            "label",
            F.col("n").cast("bigint").alias("n"),
            F.expr("intra_raw DIV (n * n)").cast("bigint").alias(
                "intra_x1e6"
            ),
            F.expr("cross_raw DIV (n * (nt - n))").cast("bigint").alias(
                "cross_x1e6"
            ),
            F.expr(
                "intra_raw DIV (n * n) - cross_raw DIV (n * (nt - n))"
            ).cast("bigint").alias("margin_x1e6"),
        )
        .orderBy(F.asc("label"))
    )


# RAG chunking grid: 64-token windows, stride 48 (16-token overlap) — the
# chunk geometry is part of the operator definition on both engines.
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


@_q(
    "curate_chunk",
    f"""WITH t AS (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '')
                            AS a
                   FROM documents),
    g AS (SELECT doc_id, a, len(a) AS n,
                 CASE WHEN len(a) = 0 THEN 0
                      WHEN len(a) <= {_CHUNK_SIZE} THEN 1
                      ELSE 1 + CAST(ceil((len(a) - {_CHUNK_SIZE})
                                         / {_CHUNK_STRIDE}.0) AS BIGINT)
                 END AS n_chunks
          FROM t),
    c AS (SELECT doc_id, n, i AS chunk_id,
                 1 + (i * {_CHUNK_STRIDE}) AS lo1,
                 LEAST(n, i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}) AS hi1, a
          FROM g, UNNEST(range(0, n_chunks)) AS u(i))
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(hi1 - lo1 + 1 AS BIGINT) AS n_tokens,
           md5(array_to_string(a[lo1:hi1], ' ')) AS chunk_md5
    FROM c ORDER BY doc_id ASC, chunk_id ASC""",
)
def curate_chunk(spark, sf_dir):
    """RAG-prep document chunking: each document split into fixed 64-token
    windows with a 48-token stride (16-token overlap so no answer span is
    cut at a boundary) — the unit a retrieval index embeds and a context
    window consumes. Emits the chunk grid (id, token count, content md5)
    rather than the text itself: the md5 doubles as the chunk-level dedup
    key (chunk-grain dedup across documents is how boilerplate paragraphs
    get dropped from a RAG index). The final short window is kept (tail
    chunks < 64 tokens), zero-token docs emit no chunks.

    Cross-engine exactness: the grid is pure integer arithmetic; DuckDB
    list slicing l[a:b] is 1-based INCLUSIVE both ends = Spark
    slice(l, a, b-a+1); md5 is the one shared hash.

    Scale shape: tokenize + grid expansion are narrow per-row HOFs fused
    onto the scan (explode fanout = ceil(n/stride), bounded by document
    length); no join, no window, no shuffle except the output ordering —
    a 100 TB chunking pass is embarrassingly parallel."""
    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    t = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("a"),
    )
    g = t.select(
        "doc_id",
        "a",
        F.expr("size(a)").alias("n"),
        F.expr(
            f"CASE WHEN size(a) = 0 THEN 0 "
            f"WHEN size(a) <= {_CHUNK_SIZE} THEN 1 "
            f"ELSE 1 + CAST(ceil((size(a) - {_CHUNK_SIZE}) "
            f"/ CAST({_CHUNK_STRIDE} AS DOUBLE)) AS BIGINT) END"
        ).alias("n_chunks"),
    )
    c = g.select(
        "doc_id",
        "n",
        "a",
        F.explode(
            F.expr("CASE WHEN n_chunks = 0 THEN array() "
                   "ELSE sequence(0, n_chunks - 1) END")
        ).alias("chunk_id"),
    ).select(
        "doc_id",
        "chunk_id",
        "a",
        F.expr(f"1 + chunk_id * {_CHUNK_STRIDE}").alias("lo1"),
        F.expr(
            f"LEAST(n, chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE})"
        ).alias("hi1"),
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.expr("CAST(hi1 - lo1 + 1 AS BIGINT)").alias("n_tokens"),
        F.md5(
            F.expr("array_join(slice(a, lo1, hi1 - lo1 + 1), ' ')")
        ).alias("chunk_md5"),
    ).orderBy(F.asc("doc_id"), F.asc("chunk_id"))


# hopping-window geometry (batch twin of streaming/windowed.py's native
# F.window): 1-hour windows every 30 minutes, so each event lands in exactly
# two windows. Window starts are computed with the SAME integer microsecond
# arithmetic on both engines (epoch-aligned, the alignment F.window uses) —
# no engine timestamp-zone semantics in the hash path.
_HOP_US = 1_800_000_000


@_q(
    "events_hopping_counts",
    f"""WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
    x AS (SELECT (us // {_HOP_US} - k.k) * {_HOP_US} AS win_start_us,
                 event_type
          FROM e CROSS JOIN (SELECT UNNEST([0, 1]) AS k) k)
    SELECT CAST(win_start_us AS BIGINT) AS win_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY win_start_us, event_type
    ORDER BY win_start_us ASC, event_type ASC""",
)
def events_hopping_counts(spark, sf_dir):
    """Hopping-window aggregation — the sliding complement of the tumbling
    events_daily rollup and the batch twin of the streaming windowed
    counts (streaming/windowed.py uses the native F.window; this is the
    identical epoch-aligned geometry): 1-hour windows advancing every 30
    minutes, each event contributing to exactly two overlapping windows.
    The overlap is what a rate-alerting consumer wants — a burst split
    across a tumbling boundary is invisible to tumbling counts but lands
    intact in one hopping window.

    Scale shape: the window expansion is a narrow 2-way explode fused onto
    the scan (fan-out = window/hop ratio, a constant), followed by ONE
    map-side-combinable aggregate keyed on (window, type) — the same
    shuffle events_daily already pays, with no window-function sort
    anywhere. At 100 TB the fan-out factor is the only cost multiplier
    and it is 2 by construction."""
    ev = _fan_out(_t(spark, sf_dir, "events").select("ts", "event_type"))
    return (
        ev.select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_type",
        )
        .select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("k"),
            "us",
            "event_type",
        )
        .select(
            F.expr(
                f"CAST((us div {_HOP_US} - k) * {_HOP_US} AS BIGINT)"
            ).alias("win_start_us"),
            "event_type",
        )
        .groupBy("win_start_us", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.asc("win_start_us"), F.asc("event_type"))
    )


@_q(
    "text_complexity",
    """WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
                  FROM documents),
    v AS (SELECT doc_id, term,
                 length(regexp_extract_all(lower(term), '[aeiouy]+')) AS syl
          FROM t WHERE term <> ''),
    m AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(syl) AS syl,
                 SUM(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS cmplx
          FROM v GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(syl * 1000000 // n_tokens AS BIGINT) AS avg_syl_x1e6,
           CAST(cmplx * 1000000 // n_tokens AS BIGINT) AS complex_pct_x1e6
    FROM m ORDER BY doc_id ASC""",
)
def text_complexity(spark, sf_dir):
    """Lexical-complexity quality signal (Gunning-FOG's complex-word leg,
    sentence-free because the corpus ships unpunctuated text): per-token
    syllable counts approximated as vowel-group runs, rolled up to average
    syllables per token and the share of 'complex' (>=3-syllable) tokens —
    the readability band a pretraining curator filters on (too low =
    navigation/boilerplate fragments, too high = OCR noise and
    tokenizer-hostile jargon). Exact integer rationals, no float division.

    Scale shape: the vowel-group count is computed INSIDE the per-token
    projection fused onto the scan (regexp on a short token, JVM codegen,
    no Python); the per-doc rollup is the one doc_id-keyed map-side-
    combinable shuffle every text op in this family pays. No join, no
    window function."""
    toks = _tokens(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    v = toks.withColumn(
        "syl",
        F.size(F.regexp_extract_all(F.lower("term"), F.lit("[aeiouy]+"), 0)),
    )
    m = v.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("syl").alias("syl"),
        F.sum((F.col("syl") >= 3).cast("int")).alias("cmplx"),
    )
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("CAST(syl * 1000000 div n_tokens AS BIGINT)").alias(
            "avg_syl_x1e6"
        ),
        F.expr("CAST(cmplx * 1000000 div n_tokens AS BIGINT)").alias(
            "complex_pct_x1e6"
        ),
    ).orderBy(F.asc("doc_id"))


# Matryoshka truncation geometry: the first _MRL_DIM of 64 dims (MRL nesting
# uses power-of-two prefixes); top-k depth for the overlap comparison.
_MRL_DIM = 32
_MRL_K = 10


@_q(
    "embed_mrl_overlap",
    f"""{_EMB_CTE},
    df AS (SELECT b.vec_id,
                  SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot,
                  SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
                  SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
           FROM e a JOIN e b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
           GROUP BY b.vec_id),
    dt AS (SELECT b.vec_id,
                  SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot,
                  SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE))) AS na,
                  SQRT(SUM(CAST(b.x AS DOUBLE) * CAST(b.x AS DOUBLE))) AS nb
           FROM e a JOIN e b ON a.i = b.i AND a.vec_id = 0 AND b.vec_id <> 0
                            AND a.i <= {_MRL_DIM}
           GROUP BY b.vec_id),
    sf AS (SELECT vec_id,
                  CAST(ROUND(dot / (na * nb) * 1e6) AS BIGINT)
                    AS cos_full_x1e6 FROM df),
    st AS (SELECT vec_id,
                  CAST(ROUND(dot / (na * nb) * 1e6) AS BIGINT)
                    AS cos_trunc_x1e6 FROM dt),
    ft AS (SELECT vec_id, cos_full_x1e6,
                  ROW_NUMBER() OVER (ORDER BY cos_full_x1e6 DESC,
                                              vec_id ASC) AS rank
           FROM sf),
    tt AS (SELECT vec_id, cos_trunc_x1e6,
                  ROW_NUMBER() OVER (ORDER BY cos_trunc_x1e6 DESC,
                                              vec_id ASC) AS trank
           FROM st)
    SELECT CAST(ft.rank AS BIGINT) AS rank, ft.vec_id,
           ft.cos_full_x1e6, tt.cos_trunc_x1e6,
           CAST(CASE WHEN tt.trank <= {_MRL_K} THEN tt.trank ELSE 0 END
                AS BIGINT) AS trunc_rank,
           CAST(CASE WHEN tt.trank <= {_MRL_K} THEN 1 ELSE 0 END
                AS BIGINT) AS in_trunc
    FROM ft JOIN tt ON tt.vec_id = ft.vec_id
    WHERE ft.rank <= {_MRL_K}
    ORDER BY rank ASC""",
)
def embed_mrl_overlap(spark, sf_dir):
    """Matryoshka truncation-quality evaluation (Kusupati et al. 2022):
    does ranking by the FIRST 32 of 64 dimensions reproduce the full-dim
    cosine top-10? Emits the full-dimension top-10 for query vec 0, each
    row flagged with whether (and where) it also appears in the
    truncated-prefix top-10 — the retrieval-overlap measurement that
    decides whether an index can store the cheap prefix and rerank with
    full vectors (the MRL funnel), the dimension-axis sibling of
    embed_pq_rerank's quantization funnel.

    Scale shape: both scoring passes are Arrow-batched numpy against the
    broadcast query vector, fused onto one candidate scan (the truncated
    slice is a narrow array op, no second scan); both rankings compile to
    TakeOrderedAndProject (top-k partials per partition, never a global
    sort); the final join is 10x10."""
    emb = _t(spark, sf_dir, "embeddings")
    cand = (
        _fan_out(emb.where(F.col("vec_id") != 0))
        .crossJoin(F.broadcast(_query_vec(emb)))
        .withColumn("t_emb", F.slice("embedding", 1, _MRL_DIM))
        .withColumn("qt_emb", F.slice("q_emb", 1, _MRL_DIM))
    )
    cf = _cos("embedding", "q_emb")
    ct = _cos("t_emb", "qt_emb")
    scored = cand.select(
        "vec_id",
        F.round(cf * 1e6).cast("bigint").alias("cos_full_x1e6"),
        F.round(ct * 1e6).cast("bigint").alias("cos_trunc_x1e6"),
    ).localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    ft = (
        scored.orderBy(F.desc("cos_full_x1e6"), F.asc("vec_id"))
        .limit(_MRL_K)
        .withColumn(
            "rank",
            F.row_number()
            .over(
                Window.orderBy(F.desc("cos_full_x1e6"), F.asc("vec_id"))
            )
            .cast("bigint"),
        )
        .select("rank", "vec_id", "cos_full_x1e6", "cos_trunc_x1e6")
    )
    tt = (
        scored.orderBy(F.desc("cos_trunc_x1e6"), F.asc("vec_id"))
        .limit(_MRL_K)
        .withColumn(
            "trank",
            F.row_number()
            .over(
                Window.orderBy(F.desc("cos_trunc_x1e6"), F.asc("vec_id"))
            )
            .cast("bigint"),
        )
        .select("vec_id", "trank")
    )
    return (
        ft.join(tt, "vec_id", "left")
        .select(
            "rank",
            "vec_id",
            "cos_full_x1e6",
            "cos_trunc_x1e6",
            F.coalesce(F.col("trank"), F.lit(0))
            .cast("bigint")
            .alias("trunc_rank"),
            F.when(F.col("trank").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("in_trunc"),
        )
        .orderBy(F.asc("rank"))
    )


# contrastive-retrieval export bands: positives = BM25 ranks 1..3 per query,
# hard negatives = ranks 11..15 (ranked, term-matching, but below the
# retrieval cutoff — the informative negatives; Karpukhin et al. 2020).
_HN_POS_K = 3
_HN_NEG_LO = 11
_HN_NEG_HI = 15


@_q(
    "search_hard_negatives",
    f"""WITH hits0 AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                              UNNEST(string_split(text, ' ')) AS term
                       FROM documents),
    h2 AS (SELECT * FROM hits0 WHERE term IN {_TFIDF_TERMS_SQL}),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
           FROM h2 GROUP BY doc_id, dl, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM h2 GROUP BY term),
    stats AS (SELECT COUNT(*) AS n, SUM(len(string_split(text, ' '))) AS l
              FROM documents),
    w AS (SELECT term, (stats.n * 1000) // df.df AS w
          FROM df CROSS JOIN stats),
    sc AS (SELECT tf.doc_id, tf.term,
                  ((tf.tf * {_BM25_K1P1} * 1000)
                   // (tf.tf * 1000
                       + ({_BM25_K1} * ({_BM25_1MB}
                          + ({_BM25_B} * tf.dl * stats.n) // stats.l))
                         // 1000)) * w.w AS rel
           FROM tf JOIN w USING (term) CROSS JOIN stats),
    rk AS (SELECT term, doc_id, rel,
                  ROW_NUMBER() OVER (PARTITION BY term
                                     ORDER BY rel DESC, doc_id ASC) AS rank
           FROM sc)
    SELECT term AS query, doc_id, CAST(rank AS BIGINT) AS rank,
           CASE WHEN rank <= {_HN_POS_K} THEN 'pos'
                ELSE 'hard_neg' END AS band,
           CAST(rel AS BIGINT) AS relevance
    FROM rk WHERE rank <= {_HN_POS_K}
       OR rank BETWEEN {_HN_NEG_LO} AND {_HN_NEG_HI}
    ORDER BY query ASC, rank ASC""",
)
def search_hard_negatives(spark, sf_dir):
    """Contrastive-retrieval training export (DPR, Karpukhin et al. 2020):
    per query term, the BM25 top-3 as positives and ranks 11-15 as HARD
    negatives — documents that match the term and rank well, just below
    the retrieval cutoff; random negatives are trivially separable and
    teach a dense retriever nothing, BM25-adjacent ones carry the
    gradient. Scoring is kg_search_tfidf's per-(doc, term) saturated-tf
    integer BM25 (not the summed multi-term relevance — each query ranks
    alone), so the export is bit-identical across engines.

    Scale shape: the query-term filter runs INSIDE the array HOF (only
    query-term occurrences become rows); tf/df are map-side-combinable
    aggregates over that vanishing slice; the rank window partitions per
    query term over its own posting list — at web scale the posting list
    is the bound, and a production exporter caps it with the same
    rank-filter the window already applies."""
    docs = _t(spark, sf_dir, "documents")
    kept = F.filter(
        F.split("text", " "), lambda t: t.isin(*_TFIDF_TERMS)
    )
    hits = (
        _fan_out(docs)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("dl"),
            F.explode(kept).alias("term"),
        )
        .localCheckpoint(eager=True)
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = (
        hits.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n, total_len = docs.agg(
        F.count(F.lit(1)), F.sum(F.size(F.split("text", " ")))
    ).first()
    w = dfreq.select("term", F.expr(f"({n}L * 1000) div df").alias("w"))
    sat = F.expr(
        f"(tf * {_BM25_K1P1} * 1000) div "
        f"(tf * 1000 + ({_BM25_K1} * "
        f"({_BM25_1MB} + ({_BM25_B} * dl * {n}L) div {total_len}L)) div 1000)"
    )
    from pyspark.sql.window import Window

    sc = tf.join(F.broadcast(w), "term").select(
        F.col("term").alias("query"),
        "doc_id",
        (sat * F.col("w")).alias("rel"),
    )
    wr = Window.partitionBy("query").orderBy(
        F.desc("rel"), F.asc("doc_id")
    )
    return (
        sc.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .where(
            (F.col("rank") <= _HN_POS_K)
            | F.col("rank").between(_HN_NEG_LO, _HN_NEG_HI)
        )
        .select(
            "query",
            "doc_id",
            "rank",
            F.when(F.col("rank") <= _HN_POS_K, F.lit("pos"))
            .otherwise(F.lit("hard_neg"))
            .alias("band"),
            F.col("rel").cast("bigint").alias("relevance"),
        )
        .orderBy(F.asc("query"), F.asc("rank"))
    )


_WEEK_US = 7 * 86_400_000_000


@_q(
    "events_cohort_matrix",
    f"""WITH e AS (SELECT user_id, epoch_us(ts) // {_WEEK_US} AS wk
                   FROM events WHERE user_id IS NOT NULL),
    first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
    sizes AS (SELECT cohort_wk, COUNT(*) AS n_cohort
              FROM first GROUP BY cohort_wk),
    act AS (SELECT f.cohort_wk, e.wk - f.cohort_wk AS age_wk,
                   COUNT(DISTINCT e.user_id) AS n_active
            FROM e JOIN first f ON f.user_id = e.user_id
            GROUP BY f.cohort_wk, e.wk - f.cohort_wk)
    SELECT CAST(a.cohort_wk AS BIGINT) AS cohort_wk,
           CAST(a.age_wk AS BIGINT) AS age_wk,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(s.n_cohort AS BIGINT) AS n_cohort,
           CAST(a.n_active * 1000000 // s.n_cohort AS BIGINT)
             AS retention_x1e6
    FROM act a JOIN sizes s ON s.cohort_wk = a.cohort_wk
    ORDER BY cohort_wk ASC, age_wk ASC""",
)
def events_cohort_matrix(spark, sf_dir):
    """Full weekly cohort-retention triangle — the matrix view behind the
    D1/D7 scalars of events_retention: users bucketed by first-seen week,
    each cell the share of the cohort active at week-age k. Weeks are
    epoch-aligned integer buckets (epoch_us DIV 7 days) rather than
    calendar date_trunc, so both engines (and any session timezone) agree
    bit-for-bit; the cell ratio is an exact integer rational.

    Scale shape: the first-seen aggregate and the (cohort, age) rollup are
    both map-side-combinable over user-keyed shuffles — the SAME key
    layout, so AQE reuses the exchange for the self-join; the matrix
    itself is (weeks x weeks)-sized, dictionary-scale. The distinct-user
    count expands within (cohort, age) groups only. Null user_ids (the
    anonymous-traffic rows) are excluded on BOTH engines up front."""
    ev = _fan_out(_t(spark, sf_dir, "events").select("user_id", "ts"))
    e = ev.where(F.col("user_id").isNotNull()).select(
        "user_id",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_WEEK_US}").alias(
            "wk"
        ),
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    act = (
        e.join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        act.join(sizes, "cohort_wk")
        .select(
            F.col("cohort_wk").cast("bigint").alias("cohort_wk"),
            F.col("age_wk").cast("bigint").alias("age_wk"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_cohort").cast("bigint").alias("n_cohort"),
            F.expr("CAST(n_active * 1000000L div n_cohort AS BIGINT)").alias(
                "retention_x1e6"
            ),
        )
        .orderBy(F.asc("cohort_wk"), F.asc("age_wk"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog over the agreed hash — the register-sketch leg of the
# distinct-count family (KMV = order-statistics leg, this = bit-pattern leg)
# ---------------------------------------------------------------------------

_HLL_P = 6                      # 2^6 = 64 registers
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 20                 # observable-window bits feeding rho
_HLL_W = 1 << _HLL_WBITS
_HLL_RMAX = _HLL_WBITS + 1      # rho range: 1..21 (21 = all-zero window)
# alpha_64 * m^2 = 0.709 * 4096 = 2904.064 — kept as an exact rational so
# the estimate is integer-identical on both engines
_HLL_ALPHA_NUM = 2904064
_HLL_ALPHA_DEN = 1000


@_q(
    "events_distinct_hll",
    f"""WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM events WHERE user_id IS NOT NULL),
    b AS (SELECT event_type, h % {_HLL_M} AS bucket,
                 (h // {_HLL_M}) % {_HLL_W} AS w
          FROM h),
    regs AS (SELECT event_type, bucket,
                    MAX(CASE WHEN w = 0 THEN {_HLL_RMAX}
                             ELSE {_HLL_RMAX} - length(bin(w)) END) AS reg
             FROM b GROUP BY event_type, bucket),
    s AS (SELECT event_type,
                 COUNT(*) AS n_hit,
                 SUM(CAST(1 AS BIGINT) << ({_HLL_RMAX} - reg)) AS s_hit
          FROM regs GROUP BY event_type),
    ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS nd
           FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
    SELECT s.event_type,
           CAST(ex.nd AS BIGINT) AS n_distinct_exact,
           CAST({_HLL_ALPHA_NUM} * (CAST(1 AS BIGINT) << {_HLL_RMAX})
                // ({_HLL_ALPHA_DEN} *
                    (s.s_hit + ({_HLL_M} - s.n_hit)
                               * (CAST(1 AS BIGINT) << {_HLL_RMAX})))
                AS BIGINT) AS est_distinct,
           CAST(s.n_hit AS BIGINT) AS n_buckets
    FROM s JOIN ex ON ex.event_type = s.event_type
    ORDER BY s.event_type""",
)
def events_distinct_hll(spark, sf_dir):
    """HyperLogLog distinct-count sketch per event type, hand-rolled over
    the engine's agreed 48-bit md5 hash so Spark and DuckDB compute the
    SAME registers (the engines' built-in HLLs — approx_count_distinct /
    approx_distinct — hash differently and can never be oracle-compared;
    this one can, because every step is integer/string arithmetic on the
    shared hash). Register layout: low 6 bits pick one of m=64 buckets,
    the next 20 bits are the observed window w, rho(w) = leading zeros in
    the 20-bit window + 1 computed EXACTLY as 21 - length(bin(w)) (bin()
    drops leading zeros identically on both engines; w=0 => rho=21).
    Estimate = alpha_64 * m^2 / sum(2^-reg) with empty buckets at reg=0,
    evaluated in scaled-integer form (alpha as the exact rational
    2904064/1000, the harmonic sum left-shifted by RMAX=21) so there is no
    float anywhere — both engines floor-divide the same integers.

    Why both KMV and HLL: KMV (events_distinct_kmv) is the order-statistics
    sketch (exact below K, easy quantile reuse); HLL is the register sketch
    — 64 bytes per group no matter the cardinality, and the merge is a
    pairwise register MAX, which at 100 TB is a map-side combinable
    groupBy(bucket).max(reg): each of 1000 executors reduces its splits to
    <= 64 rows per group before the shuffle, so the exchange carries
    O(groups x 64) rows total, independent of row count. The exact
    distinct count rides along as the verification column (it, not the
    sketch, is the expensive leg — the point of the operator).

    Reference analog: none (CodeGraphContext counts exactly in Cypher);
    task addendum's sketch family, register leg."""
    events = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    h = F.expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 12), 16, 10) "
        "AS BIGINT)"
    )
    b = events.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        ((h / F.lit(_HLL_M)).cast("bigint") % _HLL_W).alias("w"),
    )
    regs = b.groupBy("event_type", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(_HLL_RMAX)).otherwise(
                F.lit(_HLL_RMAX) - F.length(F.expr("bin(w)"))
            )
        ).alias("reg")
    )
    s = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.expr(f"shiftleft(1L, {_HLL_RMAX} - reg)")).alias("s_hit"),
    )
    ex = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nd")
    )
    est = F.expr(
        f"CAST({_HLL_ALPHA_NUM} * shiftleft(1L, {_HLL_RMAX}) div "
        f"({_HLL_ALPHA_DEN} * (s_hit + ({_HLL_M} - n_hit) * "
        f"shiftleft(1L, {_HLL_RMAX}))) AS BIGINT)"
    )
    return (
        s.join(ex, "event_type")
        .select(
            "event_type",
            F.col("nd").cast("bigint").alias("n_distinct_exact"),
            est.alias("est_distinct"),
            F.col("n_hit").cast("bigint").alias("n_buckets"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Cross-document n-gram novelty by crawl order (Wimbd-style corpus analysis)
# ---------------------------------------------------------------------------

@_q(
    "text_novelty",
    f"""{_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    first AS (SELECT MIN(doc_id) AS first_doc FROM sh GROUP BY shingle),
    nov AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel
            FROM first GROUP BY first_doc)
    SELECT s.doc_id,
           CAST(s.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(v.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(COALESCE(v.n_novel, 0) * 1000000 // s.n_shingles AS BIGINT)
             AS novelty_x1e6
    FROM sizes s LEFT JOIN nov v ON v.doc_id = s.doc_id
    ORDER BY s.doc_id""",
)
def text_novelty(spark, sf_dir):
    """Per-document n-gram novelty in crawl order (What's-In-My-Big-Data-
    style corpus diagnostics): a document's novelty is the fraction of its
    distinct word-3-gram shingles whose FIRST corpus occurrence (minimum
    doc_id — the deterministic crawl-order stand-in) is this document.
    Low-novelty late documents are templated/syndicated content the dedup
    stack should be catching; the novelty-vs-position curve is the standard
    "is the crawl saturating?" diagnostic for web-scale pretraining sets.

    Scale shape: credit assignment needs NO doc-x-doc comparison — the
    per-shingle MIN(doc_id) aggregate alone decides which document owns
    each shingle, so the plan is two map-side-combinable groupBys (one
    shingle-keyed, one doc-keyed) plus a doc-keyed join of two per-doc
    aggregates; nothing quadratic, no inverted-index self-join. At 100 TB
    the shingle agg is the same shuffle the MinHash signature pass already
    pays, and the fraction is integer-exact (floor x1e6) on both engines.

    Reference analog: none (corpus-quality addendum alongside
    text_contamination / text_diversity)."""
    sh = ensure_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    nov = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        sizes.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.expr("coalesce(n_novel, 0L) * 1000000L div n_shingles")
            .cast("bigint")
            .alias("novelty_x1e6"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Inverted-index materialization (the write path the search family implies)
# ---------------------------------------------------------------------------

@_q(
    "search_postings",
    f"""{_TOKS_CTE},
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE length(term) >= 3 GROUP BY doc_id, term),
    stats AS (SELECT term, COUNT(*) AS df, SUM(tf) AS cf FROM tf
              GROUP BY term),
    top AS (SELECT term, doc_id, tf,
                   ROW_NUMBER() OVER (PARTITION BY term
                     ORDER BY tf DESC, doc_id ASC) AS rk
            FROM tf),
    heads AS (SELECT term,
                     string_agg(doc_id || ':' || tf, ','
                                ORDER BY rk) AS postings_head
              FROM top WHERE rk <= 3 GROUP BY term)
    SELECT s.term,
           CAST(s.df AS BIGINT) AS df,
           CAST(s.cf AS BIGINT) AS cf,
           h.postings_head
    FROM stats s JOIN heads h ON h.term = s.term
    ORDER BY df DESC, s.term ASC LIMIT 50""",
)
def search_postings(spark, sf_dir):
    """Inverted-index materialization — the WRITE path of the search stack
    (reference graph_builder.py:81-85 builds a Lucene index at ingest;
    kg_search_scored/_tfidf re-derive postings per query, which is the
    right TEST shape but not what a production search tier does). Per term
    (length >= 3 — the analyzer's min-gram rule): document frequency,
    corpus frequency, and the head of its posting list ((tf DESC, doc_id
    ASC) — impact order, the layout that lets a top-k query stop early).
    The gate view is the df-ranked top slice; the production write is the
    same frame, complete, written `bucketBy(term).sortBy(term, tf)` into
    the warehouse so every search query becomes an exchange-free bucket
    probe (the warehouse.py bucketed-join contract).

    Scale shape: ONE token explode feeding one map-side-combinable
    (doc, term) count; df/cf roll up from the tf table (never re-touching
    text); the posting-head window partitions per term over its own
    posting list — hub terms rank within their partition, never a global
    sort; final top-k compiles to TakeOrderedAndProject.

    Reference analog: graph_builder.py:81-85 (CREATE FULLTEXT INDEX)."""
    tf = (
        _tokens(_t(spark, sf_dir, "documents"))
        .where(F.length("term") >= 3)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    heads = (
        tf.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s["doc_id"].cast("string"), s["tf"].cast("string")
                    ),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return (
        stats.join(heads, "term")
        .select(
            "term",
            F.col("df").cast("bigint").alias("df"),
            F.col("cf").cast("bigint").alias("cf"),
            "postings_head",
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# BPE merge induction (tokenizer training on the corpus word-type table)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_oracle_sql() -> str:
    """Unrolled-CTE DuckDB twin of the 3-round BPE loop. Words are rendered
    as guard-wrapped symbol strings (' a  b  c ': every symbol wrapped in
    single spaces, so adjacent symbols meet on a DOUBLE space) — on that
    representation SQL replace(' x  y ', ' xy ') is EXACTLY BPE's
    leftmost-non-overlapping greedy merge, and a symbol that is a suffix or
    prefix of another can never false-match across a boundary."""
    word = (
        "SELECT term AS word, COUNT(*) AS c FROM toks "
        "WHERE regexp_matches(term, '^[a-z]{2,}$') GROUP BY term"
    )
    parts = [
        f"{_TOKS_CTE}, w0 AS (SELECT word, c, "
        "' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS r "
        f"FROM ({word}))"
    ]
    for k in range(1, _BPE_ROUNDS + 1):
        prev = k - 1
        parts.append(
            f"sy{k} AS (SELECT c, string_split(trim(r), '  ') AS s FROM w{prev}), "
            f"pc{k} AS (SELECT s[i] AS s1, s[i+1] AS s2, SUM(c) AS cnt "
            f"FROM sy{k}, LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i) g "
            f"GROUP BY s[i], s[i+1]), "
            f"b{k} AS (SELECT s1, s2, cnt FROM pc{k} "
            f"ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1), "
            f"w{k} AS (SELECT word, c, "
            f"replace(r, ' ' || b.s1 || '  ' || b.s2 || ' ', "
            f"' ' || b.s1 || b.s2 || ' ') AS r FROM w{prev} CROSS JOIN b{k} b)"
        )
        parts.append(
            f"o{k} AS (SELECT {k} AS rank, s1 AS left_sym, s2 AS right_sym, "
            f"s1 || s2 AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{k})"
        )
    union = " UNION ALL ".join(f"SELECT * FROM o{k}" for k in range(1, _BPE_ROUNDS + 1))
    return (
        ", ".join(parts)
        + f" SELECT CAST(rank AS BIGINT) AS rank, left_sym, right_sym, merged, "
        f"pair_count FROM ({union}) ORDER BY rank"
    )


@_q("text_bpe_merges", _bpe_oracle_sql())
def text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training — the first _BPE_ROUNDS=3 merge rules induced from the
    corpus (Sennrich et al. 2016, the algorithm behind GPT/Llama
    tokenizers; `text_token_bpe` APPLIES a fixed rule set, this op LEARNS
    the rules): per round, the most frequent adjacent symbol pair across
    the weighted word-type table merges into one symbol, ties broken
    (count DESC, pair ASC) so every engine, run, and parallelism elects
    the same merge.

    The trick that keeps both engines bit-identical: words are rendered as
    guard-wrapped symbol strings (' a  b  c ' — each symbol wrapped in
    single spaces, adjacent symbols meeting on a double space), on which
    plain string replace(' x  y ' -> ' xy ') IS the leftmost-
    non-overlapping greedy merge BPE specifies ('aaaa' under (a,a) becomes
    [aa, aa], and a symbol that is a suffix of another can never
    false-match across a boundary). No UDF anywhere — merge application
    is one codegen replace per round.

    Scale shape: the ONLY corpus-sized pass is the initial word-type
    count (one map-side-combinable groupBy — the same shuffle every
    tokenizer trainer pays once); all 3 rounds run over the word-TYPE
    table, which is vocabulary-bounded regardless of corpus size. Pair
    explode fans out |word| symbols per type; the argmax is a 1-row
    model-sized collect per round (the MLlib centroids-on-driver shape),
    and the learned rule re-enters the plan as a string literal.

    Reference analog: none (LLM-data-pipeline addendum: the tokenizer-
    training step between curation and packing)."""
    docs = _t(spark, sf_dir, "documents")
    words = (
        _tokens(docs)
        .where(F.col("term").rlike("^[a-z]{2,}$"))
        .groupBy(F.col("term").alias("word"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "r",
            F.concat(
                F.lit(" "),
                F.array_join(F.split("word", ""), "  "),
                F.lit(" "),
            ),
        )
        .localCheckpoint(eager=True)
    )
    out = []
    for k in range(1, _BPE_ROUNDS + 1):
        pairs = (
            words.select(
                "c", F.split(F.trim(F.col("r")), "  ").alias("s")
            )
            .select(
                "c",
                F.explode(
                    F.expr(
                        "zip_with(slice(s, 1, size(s) - 1), "
                        "slice(s, 2, size(s) - 1), "
                        "(a, b) -> struct(a as s1, b as s2))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
            .agg(F.sum("c").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("s1"), F.asc("s2"))
            .limit(1)
            .collect()[0]
        )
        out.append((k, best["s1"], best["s2"], best["s1"] + best["s2"], int(best["cnt"])))
        words = words.withColumn(
            "r",
            F.expr(
                f"replace(r, ' {best['s1']}  {best['s2']} ', "
                f"' {best['s1']}{best['s2']} ')"
            ),
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        out, "rank bigint, left_sym string, right_sym string, merged string, pair_count bigint"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Split-leakage audit (near-dup contamination across train/val/test)
# ---------------------------------------------------------------------------

@_q(
    "curate_leakage",
    f"""WITH cc AS (SELECT * FROM ({ORACLE_SQL["dedup_cc_clusters"]}) t),
    sp AS (SELECT doc_id,
                  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                         THEN 'train'
                       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f'
                         THEN 'val'
                       ELSE 'test' END AS split
           FROM documents),
    mem AS (SELECT cc.cluster_id, cc.doc_id, sp.split
            FROM cc JOIN sp ON sp.doc_id = cc.doc_id),
    big AS (SELECT cluster_id FROM mem GROUP BY cluster_id
            HAVING COUNT(*) >= 2),
    per AS (SELECT m.cluster_id,
                   array_to_string(list_sort(list(DISTINCT m.split)), ',')
                     AS split_set,
                   COUNT(*) AS n_docs
            FROM mem m JOIN big USING (cluster_id)
            GROUP BY m.cluster_id)
    SELECT split_set,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM per GROUP BY split_set ORDER BY split_set ASC""",
)
def curate_leakage(spark, sf_dir):
    """Split-leakage audit: do near-duplicate clusters straddle the
    train/val/test boundary? A hash split assigns DOCUMENTS independently,
    so two near-copies of the same page routinely land in different splits
    — the eval set then contains soft copies of training data and the
    benchmark number is contaminated (the Lee et al. 2022 dedup paper's
    core finding; the fix is assigning SPLITS AT CLUSTER GRAIN). For every
    near-dup cluster (>= 2 members, from the oracle-checked MinHash-LSH +
    connected-components stack), report its sorted distinct-split
    signature: any multi-split row ('test,train', 'train,val', ...) is
    leaked eval data, quantified in clusters and documents.

    Scale shape: composes two already-bounded plans — the LSH/CC cluster
    assignment (bucket-capped, never all-pairs) and the shuffle-free hash
    split — with one cluster-keyed semi-join (>= 2 members) and two
    map-side-combinable rollups; split sets are <= 3 elements by
    construction. Nothing new touches text.

    Reference analog: none (curation-audit addendum alongside
    curate_split / dedup_cc_clusters; the audit that motivates
    cluster-grain splitting in curate.py's chain)."""
    cc = ensure_clusters(spark, sf_dir)
    sp = curate_split(spark, sf_dir)
    mem = cc.join(sp, "doc_id")
    big = (
        mem.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("cluster_id")
    )
    per = (
        mem.join(big, "cluster_id")
        .groupBy("cluster_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("split")), ","
            ).alias("split_set"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return (
        per.groupBy("split_set")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.asc("split_set"))
    )


_ZIPF_K = 50  # rank-frequency rows in the audit (head of the distribution)


@_q(
    "text_zipf",
    f"""{_TOKS_CTE},
    tf AS (SELECT term, COUNT(*) AS freq FROM toks
           WHERE term <> '' GROUP BY term),
    tot AS (SELECT SUM(freq) AS total FROM tf),
    top AS (SELECT term, freq FROM tf
            ORDER BY freq DESC, term ASC LIMIT {_ZIPF_K}),
    rk AS (SELECT term, freq,
                  ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank,
                  SUM(freq) OVER (ORDER BY freq DESC, term ASC
                                  ROWS UNBOUNDED PRECEDING) AS cumf,
                  MAX(freq) OVER () AS f1
           FROM top)
    SELECT CAST(rank AS BIGINT) AS rank, term, CAST(freq AS BIGINT) AS freq,
           CAST(cumf * 1000000 // total AS BIGINT) AS cum_ppm,
           CAST(freq * rank * 1000000 // f1 AS BIGINT) AS zipf_ppm
    FROM rk, tot ORDER BY rank""",
)
def text_zipf(spark, sf_dir):
    """Rank-frequency (Zipf) audit of the corpus head: top-K terms with
    cumulative token coverage (ppm) and the Zipf product freq*rank/f1
    (~1e6 under an ideal s=1 Zipf law). The standard corpus-health gauge
    for web-crawl curation (a boilerplate-dominated or deduplication-starved
    crawl shows a too-flat head / too-high cum coverage); integer-only
    output, no logs, so both engines hash identically.

    100 TB shape: one map-side-combinable term count (the only full-corpus
    pass), then TakeOrderedAndProject keeps K rows; the window functions run
    on the K-row frame (single task, K=50) and the corpus-total scalar joins
    back as a broadcast single row. No full sort of the term dictionary.

    Reference analog: none (text-analysis addendum; pairs with
    text_stats / text_diversity)."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    tf = _tokens(docs).groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    total = tf.agg(F.sum("freq").cast("bigint").alias("total"))
    top = tf.orderBy(F.desc("freq"), F.asc("term")).limit(_ZIPF_K)
    w_rank = Window.orderBy(F.desc("freq"), F.asc("term"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()  # K-row frame: full-frame max is cheap
    r = (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w_rank))
        .withColumn("cumf", F.sum("freq").over(w_cum))
        .withColumn("f1", F.max("freq").over(w_all))
    )
    return r.select(
        F.col("rank").cast("bigint").alias("rank"),
        "term",
        F.col("freq").cast("bigint").alias("freq"),
        F.expr("CAST(cumf * 1000000 DIV total AS BIGINT)").alias("cum_ppm"),
        F.expr("CAST(freq * rank * 1000000 DIV f1 AS BIGINT)").alias(
            "zipf_ppm"
        ),
    ).orderBy(F.asc("rank"))


@_q(
    "curate_calibration",
    f"""{_CLF_SC_CTE},
    j AS (SELECT sc.doc_id, swc // n AS s, label
          FROM sc JOIN lab USING (doc_id)),
    cal AS (SELECT LEAST(s // 100000, 9) AS decile,
                   COUNT(*) AS n_docs, SUM(label) AS n_pos, SUM(s) AS ss
            FROM j GROUP BY 1)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_pos * 1000000 // n_docs AS BIGINT) AS pos_rate_ppm,
           CAST(ss // n_docs AS BIGINT) AS mean_score_x1e6
    FROM cal ORDER BY decile""",
)
def curate_calibration(spark, sf_dir):
    """Calibration curve of the hashed quality classifier: bucket documents
    by predicted-score decile and report the observed weak-label positive
    rate per bucket — the reliability diagram that decides whether the
    keep-threshold (500000) is trustworthy before a 100 TB filter run.
    Shares the classifier core (_clf_doc_scores / _CLF_SC_CTE) with
    curate_clf_score, so the audited model IS the deployed model.

    100 TB shape: everything after the shared classifier core is one
    map-side-combinable aggregate down to <= 10 decile rows; no new
    full-corpus pass beyond the core's token count.

    Reference analog: none (curation-audit addendum; pairs with
    curate_clf_score / curate_train_labels)."""
    j = _clf_doc_scores(spark, sf_dir).select(
        F.expr("CAST(swc DIV n AS BIGINT)").alias("s"), "label"
    )
    cal = j.groupBy(
        F.expr("CAST(LEAST(s DIV 100000, 9) AS BIGINT)").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("label").alias("n_pos"),
        F.sum("s").alias("ss"),
    )
    return cal.select(
        "decile",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.expr("CAST(n_pos * 1000000 DIV n_docs AS BIGINT)").alias(
            "pos_rate_ppm"
        ),
        F.expr("CAST(ss DIV n_docs AS BIGINT)").alias("mean_score_x1e6"),
    ).orderBy(F.asc("decile"))


@_q(
    "embed_quantize",
    f"""{_EMB_CTE},
    st AS (SELECT i, MIN(CAST(x AS DOUBLE)) AS vmin,
                  MAX(CAST(x AS DOUBLE)) AS vmax
           FROM e GROUP BY i),
    q0 AS (SELECT i, CAST(x AS DOUBLE) AS x0 FROM e WHERE vec_id = 0)
    SELECT CAST(st.i AS BIGINT) AS dim,
           CAST(ROUND(vmin * 1e6) AS BIGINT) AS min_x1e6,
           CAST(ROUND(vmax * 1e6) AS BIGINT) AS max_x1e6,
           CAST(ROUND((vmax - vmin) / 255 * 1e9) AS BIGINT) AS scale_x1e9,
           CAST(CASE WHEN vmax = vmin THEN 0
                ELSE ROUND((x0 - vmin) * 255 / (vmax - vmin))
                END AS BIGINT) AS q0_code
    FROM st JOIN q0 ON q0.i = st.i ORDER BY dim""",
)
def embed_quantize(spark, sf_dir):
    """Per-dimension int8 affine quantization calibration (the
    scalar-quantization companion to embed_pq): per dim the corpus min/max,
    the derived affine scale, and vector 0's quantized code as the
    round-trip probe. This is the calibration pass a 10^9-vector store runs
    before switching its ANN shortlist to 1-byte-per-dim codes (4x smaller
    than PQ's subspace centroids to train, exact to audit).

    100 TB shape: per-dim min/max is ONE map-side-combinable aggregate over
    the exploded (dim, value) stream — partial min/max per task, D=64 rows
    out; the probe vector joins back as a broadcast D-row side. No shuffle
    of raw vectors, no driver-side data beyond the D-row result.

    Reference analog: none (embedding addendum; pairs with embed_pq /
    embed_pq_rerank)."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings"))
    ex = emb.select("vec_id", F.posexplode("embedding").alias("i", "x"))
    st = ex.groupBy("i").agg(
        F.min("x").cast("double").alias("vmin"),
        F.max("x").cast("double").alias("vmax"),
    )
    q0 = ex.where(F.col("vec_id") == 0).select(
        "i", F.col("x").cast("double").alias("x0")
    )
    j = st.join(F.broadcast(q0), "i")
    return j.select(
        (F.col("i") + 1).cast("bigint").alias("dim"),
        F.expr("CAST(ROUND(vmin * 1e6) AS BIGINT)").alias("min_x1e6"),
        F.expr("CAST(ROUND(vmax * 1e6) AS BIGINT)").alias("max_x1e6"),
        F.expr("CAST(ROUND((vmax - vmin) / 255 * 1e9) AS BIGINT)").alias(
            "scale_x1e9"
        ),
        F.expr(
            "CAST(CASE WHEN vmax = vmin THEN 0"
            " ELSE ROUND((x0 - vmin) * 255 / (vmax - vmin)) END AS BIGINT)"
        ).alias("q0_code"),
    ).orderBy(F.asc("dim"))


@_q(
    "events_scd2",
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
                   FROM events
                   WHERE user_id IS NOT NULL AND user_id < 20),
    mk AS (SELECT *, CASE WHEN LAG(event_type) OVER w IS NULL
                            OR LAG(event_type) OVER w <> event_type
                          THEN 1 ELSE 0 END AS chg
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    isl AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS version
            FROM mk),
    iv AS (SELECT user_id, version, MIN(event_type) AS state,
                  MIN(us) AS valid_from_us, COUNT(*) AS n_events
           FROM isl GROUP BY user_id, version)
    SELECT user_id, CAST(version AS BIGINT) AS version, state,
           CAST(valid_from_us AS BIGINT) AS valid_from_us,
           CAST(COALESCE(LEAD(valid_from_us)
                           OVER (PARTITION BY user_id ORDER BY version),
                         -1) AS BIGINT) AS valid_to_us,
           CAST(n_events AS BIGINT) AS n_events
    FROM iv ORDER BY user_id, version""",
)
def events_scd2(spark, sf_dir):
    """Slowly-changing-dimension type-2 build from the event stream
    (Kimball SCD2): per user, collapse consecutive runs of the same
    event_type into versioned validity intervals [valid_from, valid_to)
    (-1 = still current) via gaps-and-islands — the change-data-capture
    shape every warehouse dimension load needs. Demo slice pins users
    0..19 so the result is fixture-sized; production drops the filter.

    100 TB shape: both windows partition BY USER over that user's own
    rows (no global window); the island groupBy is map-side combinable on
    (user, version); the final LEAD runs over the interval table, which is
    |state changes| << |events|. One shuffle on user_id total — the
    stream's native partitioning.

    Reference analog: none (events addendum; the batch twin of the CDC
    deltas runner.run_incremental emits — pairs with events_sessions)."""
    from pyspark.sql.window import Window

    ev = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL AND user_id < 20")
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("event_type").over(w)
    mk = ev.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    )
    isl = mk.withColumn(
        "version",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = isl.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return iv.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "state",
        F.col("valid_from_us").cast("bigint").alias("valid_from_us"),
        F.coalesce(F.lead("valid_from_us").over(w2), F.lit(-1))
        .cast("bigint")
        .alias("valid_to_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    ).orderBy(F.asc("user_id"), F.asc("version"))


@_q(
    "embed_drift",
    """WITH e AS (SELECT vec_id, label, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings),
    q AS (SELECT vec_id, label, i,
                 CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xq
          FROM e),
    g AS (SELECT label, vec_id % 2 AS parity, i,
                 SUM(xq) AS sxq, COUNT(*) AS n
          FROM q GROUP BY label, parity, i),
    c AS (SELECT label, parity, i,
                 CAST(FLOOR(CAST(sxq AS DOUBLE) / n) AS BIGINT) AS cq,
                 n
          FROM g),
    d AS (SELECT a.label,
                 SUM((a.cq - b.cq) * (a.cq - b.cq)) AS l2sq,
                 MIN(a.n) AS n_even, MIN(b.n) AS n_odd
          FROM c a JOIN c b ON a.label = b.label AND a.i = b.i
          WHERE a.parity = 0 AND b.parity = 1
          GROUP BY a.label)
    SELECT CAST(label AS BIGINT) AS label,
           CAST(n_even AS BIGINT) AS n_even,
           CAST(n_odd AS BIGINT) AS n_odd,
           CAST(l2sq AS BIGINT) AS drift_l2sq_x1e12
    FROM d ORDER BY label""",
)
def embed_drift(spark, sf_dir):
    """Embedding-distribution drift check between two ingestion batches
    (even vs odd vec_ids stand in for batch t vs t+1): per label, the
    squared L2 distance between the batches' centroids in quantized
    integer space — the monitoring gauge that catches encoder or corpus
    drift before an index rebuild ships. Components quantize to
    round(x*1e6) int64 BEFORE summation (the embed_kmeans trick), so sums
    are exact integers under any partitioning; the per-dim mean divides
    as FLOOR(double) on both engines (exact while |sum| < 2^53) and the
    distance is pure integer arithmetic.

    100 TB shape: ONE map-side-combinable groupBy over the exploded
    (label, parity, dim) stream — 2*L*D rows out; the centroid join and
    distance aggregate run on that model-sized table. No raw-vector
    shuffle, nothing on the driver.

    Reference analog: none (embedding addendum; pairs with embed_kmeans /
    kg_pred_drift / events_drift)."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings"))
    q = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("parity"),
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "label",
        "parity",
        "i",
        F.expr(
            "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
        ).alias("xq"),
    )
    g = q.groupBy("label", "parity", "i").agg(
        F.sum("xq").alias("sxq"), F.count(F.lit(1)).alias("n")
    )
    c = g.select(
        "label",
        "parity",
        "i",
        F.expr("CAST(FLOOR(CAST(sxq AS DOUBLE) / n) AS BIGINT)").alias("cq"),
        "n",
    )
    a = c.where(F.col("parity") == 0).select(
        "label", "i", F.col("cq").alias("ca"), F.col("n").alias("n_even")
    )
    b = c.where(F.col("parity") == 1).select(
        "label", "i", F.col("cq").alias("cb"), F.col("n").alias("n_odd")
    )
    d = (
        a.join(b, ["label", "i"])
        .groupBy("label")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .alias("l2sq"),
            F.min("n_even").alias("n_even"),
            F.min("n_odd").alias("n_odd"),
        )
    )
    return d.select(
        F.col("label").cast("bigint").alias("label"),
        F.col("n_even").cast("bigint").alias("n_even"),
        F.col("n_odd").cast("bigint").alias("n_odd"),
        F.col("l2sq").cast("bigint").alias("drift_l2sq_x1e12"),
    ).orderBy(F.asc("label"))


# Each needle's intended vocabulary term — the relevance judgment for the
# fuzzy-search quality eval (one-character corruptions of real terms).
_FUZZY_TRUTH = (
    ("fliter", "filter"),
    ("streem", "stream"),
    ("windw", "window"),
    ("qery", "query"),
)
_FUZZY_TRUTH_SQL = ", ".join(f"('{n}', '{t}')" for n, t in _FUZZY_TRUTH)


@_q(
    "search_fuzzy_eval",
    f"""{_FUZZY_RANKED_CTE},
    topk AS (SELECT * FROM ranked WHERE rnk <= {_FUZZY_TOPK}),
    truth AS (SELECT * FROM (VALUES {_FUZZY_TRUTH_SQL})
              AS t(needle, truth)),
    hit AS (SELECT t.needle, t.truth, MIN(k.rnk) AS rank_truth
            FROM truth t LEFT JOIN topk k
              ON k.needle = t.needle AND k.term = t.truth
            GROUP BY t.needle, t.truth),
    best AS (SELECT needle, term AS best_term FROM topk WHERE rnk = 1)
    SELECT h.needle, h.truth, b.best_term,
           CAST(COALESCE(h.rank_truth, -1) AS BIGINT) AS rank_truth,
           CAST(CASE WHEN h.rank_truth IS NULL THEN 0
                ELSE 1000000 // h.rank_truth END AS BIGINT) AS rr_x1e6
    FROM hit h JOIN best b ON b.needle = h.needle
    ORDER BY h.needle""",
)
def search_fuzzy_eval(spark, sf_dir):
    """Retrieval-quality eval of the fuzzy search (the audit a search
    stack runs before shipping a ranker change): each needle is a known
    one-character corruption of a vocabulary term; report where the true
    term lands in the fuzzy ranking (reciprocal rank x1e6, -1 = missed
    the top-k) plus the actual top hit. MRR over the needle set is the
    headline retrieval metric (Voorhees 1999); keeping per-needle rows
    makes regressions attributable to a query, not just a mean.

    Scale shape: composes kg_search_fuzzy's plan (one vocab aggregate +
    broadcast needle scoring) with a |needles|-row truth table join —
    the eval adds nothing corpus-sized.

    Reference analog: the reference trusts Lucene's fuzzy scoring
    untested (graph_builder.py:81-85); this measures ours."""
    tk = kg_search_fuzzy(spark, sf_dir).select("needle", "term", "rnk")
    truth = spark.createDataFrame(
        list(_FUZZY_TRUTH), "needle string, truth string"
    )
    t, k = truth.alias("t"), tk.alias("k")
    hit = (
        t.join(
            F.broadcast(k),
            (F.col("k.needle") == F.col("t.needle"))
            & (F.col("k.term") == F.col("t.truth")),
            "left",
        )
        .groupBy(
            F.col("t.needle").alias("needle"),
            F.col("t.truth").alias("truth"),
        )
        .agg(F.min("k.rnk").alias("rank_truth"))
    )
    best = tk.where(F.col("rnk") == 1).select(
        "needle", F.col("term").alias("best_term")
    )
    return (
        hit.join(F.broadcast(best), "needle")
        .select(
            "needle",
            "truth",
            "best_term",
            F.coalesce("rank_truth", F.lit(-1))
            .cast("bigint")
            .alias("rank_truth"),
            F.expr(
                "CAST(CASE WHEN rank_truth IS NULL THEN 0"
                " ELSE 1000000 DIV rank_truth END AS BIGINT)"
            ).alias("rr_x1e6"),
        )
        .orderBy(F.asc("needle"))
    )


@_q(
    "events_abtest",
    """WITH u AS (SELECT user_id, user_id % 2 AS arm,
                         MAX(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS conv
                  FROM events WHERE user_id IS NOT NULL
                  GROUP BY user_id),
    t AS (SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                 SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS conv_a,
                 SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS conv_b
          FROM u)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(conv_a AS BIGINT) AS conv_a,
           CAST(conv_b AS BIGINT) AS conv_b,
           CAST(conv_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
           CAST(conv_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
           CAST(CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
                       OR n_a + n_b - conv_a - conv_b = 0 THEN 0
                ELSE ROUND(CAST(n_a + n_b AS DOUBLE)
                     * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                        - CAST(n_a - conv_a AS DOUBLE)
                          * CAST(conv_b AS DOUBLE))
                     * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                        - CAST(n_a - conv_a AS DOUBLE)
                          * CAST(conv_b AS DOUBLE))
                     / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        * CAST(conv_a + conv_b AS DOUBLE)
                        * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE))
                     * 1000000) END AS BIGINT) AS chi2_x1e6
    FROM t""",
)
def events_abtest(spark, sf_dir):
    """A/B conversion test over the event stream: users hash-split into
    two arms (user_id parity — in production the experiment's assignment
    hash), conversion = any 'purchase' event; reports per-arm rates and
    the 2x2 chi-square statistic (the experimentation-platform readout;
    chi2 >= 3.84 is p < .05 at 1 dof). Counts are exact integers; the
    chi-square evaluates one fixed double expression over those exact
    counts — no float accumulation order, identical on both engines, and
    the double form never overflows at 10^9-user scale where the pure
    int64 formula would.

    Scale shape: one map-side-combinable groupBy(user_id) (the stream's
    native key), then a single 4-counter rollup to ONE row. Nothing else.

    Reference analog: none (events addendum; pairs with events_drift /
    events_retention)."""
    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL")
    u = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    ).select((F.col("user_id") % 2).alias("arm"), "conv")
    t = u.agg(
        F.sum((F.col("arm") == 0).cast("int")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("int")).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    return t.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.expr("CAST(conv_a * 1000000 DIV n_a AS BIGINT)").alias(
            "rate_a_ppm"
        ),
        F.expr("CAST(conv_b * 1000000 DIV n_b AS BIGINT)").alias(
            "rate_b_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0"
            " OR n_a + n_b - conv_a - conv_b = 0 THEN 0"
            " ELSE ROUND(CAST(n_a + n_b AS DOUBLE)"
            " * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)"
            "    - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))"
            " * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)"
            "    - CAST(n_a - conv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
            "    * CAST(conv_a + conv_b AS DOUBLE)"
            "    * CAST(n_a + n_b - conv_a - conv_b AS DOUBLE))"
            " * 1000000) END AS BIGINT)"
        ).alias("chi2_x1e6"),
    )


@_q(
    "curate_budget_select",
    f"""{_TOKS_CTE},
    {_moments_cte()},
    q AS (SELECT doc_id, n_tokens,
                 CAST(LEAST(n_tokens, 200) * 2 + alpha * 300 // n_tokens
                      + CASE WHEN stops * 100 // n_tokens BETWEEN 2 AND 40
                             THEN 300 ELSE 0 END AS BIGINT) AS qual
          FROM m),
    b AS (SELECT SUM(n_tokens) // 4 AS budget FROM q),
    hist AS (SELECT qual, COUNT(*) AS n_docs, SUM(n_tokens) AS toks_b
             FROM q GROUP BY qual),
    cum AS (SELECT *, SUM(toks_b) OVER (ORDER BY qual DESC
                                        ROWS UNBOUNDED PRECEDING) AS cum_tok
            FROM hist),
    st AS (SELECT cum.*, cum_tok - toks_b AS cum_before, b.budget
           FROM cum CROSS JOIN b),
    part AS (SELECT q.qual, q.doc_id, q.n_tokens, st.cum_before, st.budget,
                    SUM(q.n_tokens) OVER (PARTITION BY q.qual
                      ORDER BY md5(CAST(q.doc_id AS VARCHAR)), q.doc_id
                      ROWS UNBOUNDED PRECEDING) AS rs
             FROM q JOIN st ON st.qual = q.qual
             WHERE st.cum_before < st.budget AND st.budget < st.cum_tok),
    pk AS (SELECT qual, COUNT(*) AS n_kept_p, SUM(n_tokens) AS tok_kept_p
           FROM part WHERE cum_before + rs <= budget GROUP BY qual)
    SELECT CAST(st.qual AS BIGINT) AS qual,
           CAST(st.n_docs AS BIGINT) AS n_docs,
           CAST(st.toks_b AS BIGINT) AS toks_b,
           CAST(CASE WHEN st.cum_tok <= st.budget THEN st.n_docs
                     WHEN st.cum_before >= st.budget THEN 0
                     ELSE COALESCE(pk.n_kept_p, 0) END AS BIGINT) AS n_kept,
           CAST(CASE WHEN st.cum_tok <= st.budget THEN st.toks_b
                     WHEN st.cum_before >= st.budget THEN 0
                     ELSE COALESCE(pk.tok_kept_p, 0) END AS BIGINT)
             AS tok_kept,
           CASE WHEN st.cum_tok <= st.budget THEN 'full'
                WHEN st.cum_before >= st.budget THEN 'dropped'
                ELSE 'partial' END AS status
    FROM st LEFT JOIN pk ON pk.qual = st.qual
    ORDER BY qual DESC""",
)
def curate_budget_select(spark, sf_dir):
    """Data selection under a token budget (the decision a curation run
    actually ships: keep the highest-quality documents until the training
    budget — here 25% of corpus tokens — is spent). The 100 TB-correct
    shape is threshold-from-histogram, NOT a global sort: aggregate a
    per-quality-score histogram, find the boundary score on the (tiny)
    cumulative histogram, keep whole buckets above it, and order only the
    ONE boundary bucket internally (deterministic md5-hash order) to fill
    the remainder exactly. Reports per-bucket keep counts + status.

    100 TB shape: one map-side-combinable doc-stats pass, one histogram
    aggregate (|distinct scores| rows, bounded by the integer score
    range), a window over the HISTOGRAM, and a per-bucket window over the
    boundary bucket only — the corpus is never globally sorted; every
    non-boundary doc is kept/dropped by a broadcast threshold compare.

    Reference analog: none (curation addendum; the budgeted variant of
    curate.py's quality stage — pairs with curate_pack_tokens)."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    m = _moments(toks)
    q = m.select(
        "doc_id",
        "n_tokens",
        F.expr(_QUALITY_SQL).alias("qual"),
    ).localCheckpoint(eager=True)  # feeds budget, histogram, AND boundary
    b = q.agg(F.expr("CAST(SUM(n_tokens) DIV 4 AS BIGINT)").alias("budget"))
    hist = q.groupBy("qual").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("toks_b")
    )
    w_cum = Window.orderBy(F.desc("qual")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    st = (
        hist.withColumn("cum_tok", F.sum("toks_b").over(w_cum))
        .withColumn("cum_before", F.col("cum_tok") - F.col("toks_b"))
        .crossJoin(F.broadcast(b))
    ).localCheckpoint(eager=True)  # histogram-sized; feeds boundary + final
    bound = st.where(
        (F.col("cum_before") < F.col("budget"))
        & (F.col("budget") < F.col("cum_tok"))
    ).select("qual", "cum_before", "budget")
    w_rs = (
        Window.partitionBy("qual")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pk = (
        q.join(F.broadcast(bound), "qual")
        .withColumn("rs", F.sum("n_tokens").over(w_rs))
        .where(F.col("cum_before") + F.col("rs") <= F.col("budget"))
        .groupBy("qual")
        .agg(
            F.count(F.lit(1)).alias("n_kept_p"),
            F.sum("n_tokens").alias("tok_kept_p"),
        )
    )
    return (
        # pk is <= 1 row by construction (exactly one boundary bucket can
        # straddle the budget) — broadcast beats a sort-merge of two
        # histogram-sized sides
        st.join(F.broadcast(pk), "qual", "left")
        .select(
            F.col("qual").cast("bigint").alias("qual"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("toks_b").cast("bigint").alias("toks_b"),
            F.expr(
                "CAST(CASE WHEN cum_tok <= budget THEN n_docs"
                " WHEN cum_before >= budget THEN 0"
                " ELSE COALESCE(n_kept_p, 0) END AS BIGINT)"
            ).alias("n_kept"),
            F.expr(
                "CAST(CASE WHEN cum_tok <= budget THEN toks_b"
                " WHEN cum_before >= budget THEN 0"
                " ELSE COALESCE(tok_kept_p, 0) END AS BIGINT)"
            ).alias("tok_kept"),
            F.expr(
                "CASE WHEN cum_tok <= budget THEN 'full'"
                " WHEN cum_before >= budget THEN 'dropped'"
                " ELSE 'partial' END"
            ).alias("status"),
        )
        .orderBy(F.desc("qual"))
    )


@_q(
    "events_forecast_eval",
    """WITH d AS (SELECT event_type,
                         epoch_us(ts) // 86400000000 AS day_n,
                         COUNT(*) AS n
                  FROM events GROUP BY event_type, day_n),
    j AS (SELECT a.event_type, a.day_n, a.n AS actual, f.n AS fcst
          FROM d a JOIN d f ON f.event_type = a.event_type
                           AND f.day_n = a.day_n - 7)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(actual) AS BIGINT) AS sum_actual,
           CAST(SUM(ABS(actual - fcst)) AS BIGINT) AS sum_abs_err,
           CAST(SUM(ABS(actual - fcst)) * 1000000 // COUNT(*) AS BIGINT)
             AS mae_x1e6,
           CAST(SUM(ABS(actual - fcst)) * 1000000 // SUM(actual) AS BIGINT)
             AS wape_ppm
    FROM j GROUP BY event_type ORDER BY event_type""",
)
def events_forecast_eval(spark, sf_dir):
    """Seasonal-naive forecast baseline + error readout over the daily
    event series (forecast(day) = actual(day-7), the standard floor any
    real forecasting model must beat; Hyndman & Athanasopoulos 2018):
    per event type, MAE and WAPE in exact integer ppm. The volume-anomaly
    monitor's forward-looking sibling — a capacity planner runs exactly
    this to decide whether last week predicts next week.

    100 TB shape: ONE map-side-combinable (type, day) count is the only
    event-scale pass; the self-join and error rollup run on the
    days x types table (thousands of rows at any corpus size). Integer
    day numbers (epoch_us DIV 86400e6) make the 7-day lag an exact
    equi-join — no calendar arithmetic, no rows-based lag misalignment
    on gap days.

    Reference analog: none (events addendum; pairs with events_anomaly /
    events_drift)."""
    d = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
                " AS BIGINT)"
            ).alias("day_n"),
        )
        .groupBy("event_type", "day_n")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a, f = d.alias("a"), d.alias("f")
    j = a.join(
        f,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (F.col("f.day_n") == F.col("a.day_n") - 7),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("actual"),
        F.col("f.n").alias("fcst"),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("actual").alias("sum_actual"),
            F.sum(F.abs(F.col("actual") - F.col("fcst"))).alias(
                "sum_abs_err"
            ),
        )
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("sum_actual").cast("bigint").alias("sum_actual"),
            F.col("sum_abs_err").cast("bigint").alias("sum_abs_err"),
            F.expr(
                "CAST(sum_abs_err * 1000000 DIV n_days AS BIGINT)"
            ).alias("mae_x1e6"),
            F.expr(
                "CAST(sum_abs_err * 1000000 DIV sum_actual AS BIGINT)"
            ).alias("wape_ppm"),
        )
        .orderBy(F.asc("event_type"))
    )


@_q(
    "dedup_cluster_stats",
    f"""WITH cc AS (SELECT * FROM ({ORACLE_SQL["dedup_cc_clusters"]}) t),
    sz AS (SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz - 1) AS BIGINT) AS n_dups_removed
    FROM sz GROUP BY sz ORDER BY cluster_size""",
)
def dedup_cluster_stats(spark, sf_dir):
    """Near-dup cluster-size histogram: how many clusters of each size the
    LSH+CC pass produced and how many documents canonical-selection will
    drop per size (size-1 clusters = uniques, the long tail; big clusters
    = boilerplate families). This one table IS the dedup run's report
    card — the dup rate a curation write-up quotes is
    sum(n_dups_removed)/sum(n_docs), and a fattening tail between crawls
    is the earliest signal the near-dup threshold needs retuning.

    100 TB shape: composes the bucket-capped cluster map (already bounded
    upstream) with two map-side-combinable aggregates — cluster sizes,
    then the size histogram (<= max-cluster-size rows). Nothing new rides
    a shuffle but (cluster_id) and (size) keys.

    Reference analog: none (dedup-audit addendum; pairs with
    dedup_cc_clusters / curate_canonical / curate_leakage)."""
    cc = ensure_clusters(spark, sf_dir)
    sz = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sz.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.sum(F.col("sz") - 1).alias("n_dups_removed"),
        )
        .select(
            F.col("sz").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_dups_removed").cast("bigint").alias("n_dups_removed"),
        )
        .orderBy(F.asc("cluster_size"))
    )


@_q(
    "events_lag_features",
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events
                   WHERE user_id IS NOT NULL AND user_id < 10),
    f AS (SELECT event_id, user_id,
                 us - LAG(us) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS gap_us,
                 SUM(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS roll3_cents,
                 COUNT(*) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS n_roll
          FROM ev)
    SELECT event_id, user_id,
           CAST(COALESCE(gap_us, -1) AS BIGINT) AS gap_us,
           CAST(roll3_cents AS BIGINT) AS roll3_cents,
           CAST(n_roll AS BIGINT) AS n_roll
    FROM f ORDER BY user_id, event_id""",
)
def events_lag_features(spark, sf_dir):
    """Per-event lag/rolling feature export (the feature-engineering pass
    a behavioral model trains on: time since the user's previous event,
    rolling 3-event spend). Values quantize to exact integer cents BEFORE
    the window sum — a double rolling sum would hit DuckDB's segment-tree
    vs Spark's sequential-frame summation order and diverge in the last
    ulp; integer sums are order-free. Demo slice pins users 0..9 so the
    feature table is fixture-sized; production drops the filter and
    writes the full table.

    100 TB shape: one window family partitioned BY USER over the user's
    own rows — a single user_id shuffle (the stream's native key), no
    global window, rolling frame is O(1) per row.

    Reference analog: none (events addendum; the feature-export sibling
    of events_sessions / events_markov_transitions)."""
    from pyspark.sql.window import Window

    ev = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL AND user_id < 10")
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    w3 = w.rowsBetween(-2, Window.currentRow)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.coalesce(F.col("us") - F.lag("us").over(w), F.lit(-1))
            .cast("bigint")
            .alias("gap_us"),
            F.sum("cents").over(w3).cast("bigint").alias("roll3_cents"),
            F.count(F.lit(1)).over(w3).cast("bigint").alias("n_roll"),
        )
        .orderBy(F.asc("user_id"), F.asc("event_id"))
    )


@_q(
    "embed_binary_hamming",
    """WITH e AS (SELECT vec_id, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings),
    bits AS (SELECT vec_id,
                    SUM(CASE WHEN i <= 32 AND x > 0
                        THEN CAST(1 AS BIGINT) << CAST(i - 1 AS INT)
                        ELSE 0 END) AS w0,
                    SUM(CASE WHEN i > 32 AND x > 0
                        THEN CAST(1 AS BIGINT) << CAST(i - 33 AS INT)
                        ELSE 0 END) AS w1
             FROM e GROUP BY vec_id),
    q AS (SELECT w0 AS q0, w1 AS q1 FROM bits WHERE vec_id = 0),
    d AS (SELECT b.vec_id,
                 bit_count(xor(b.w0, q.q0)) + bit_count(xor(b.w1, q.q1))
                   AS hamming
          FROM bits b CROSS JOIN q WHERE b.vec_id <> 0)
    SELECT vec_id, CAST(hamming AS BIGINT) AS hamming
    FROM d ORDER BY hamming ASC, vec_id ASC LIMIT 10""",
)
def embed_binary_hamming(spark, sf_dir):
    """Binary-embedding retrieval (sign-bit binarization + XOR-popcount
    Hamming top-k — the 32x-compression trick behind binary passage
    retrieval, Yamada 2021): each 64-dim vector packs into two 32-bit
    sign words; the query's nearest neighbors rank by Hamming distance.
    Pure integer arithmetic end-to-end — bit packing, XOR, popcount —
    so both engines agree bit-for-bit.

    100 TB shape: packing is one map-side-combinable aggregate over the
    exploded stream (16 bytes out per vector — the index that FITS IN RAM
    when float vectors don't); scoring is a narrow scan of the packed
    table against two broadcast query words with TakeOrderedAndProject
    for the top-k. At 10^9 vectors this is the first-stage filter whose
    shortlist embed_pq_rerank-style exact refinement then reorders.

    Reference analog: none (embedding addendum; completes the
    compression ladder: float32 -> PQ codes (embed_pq) -> int8
    (embed_quantize) -> sign bits)."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings"))
    ex = emb.select("vec_id", F.posexplode("embedding").alias("i0", "x"))
    bits = ex.groupBy("vec_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN i0 < 32 AND x > 0"
                " THEN CAST(1 AS BIGINT) << CAST(i0 AS INT) ELSE 0 END"
            )
        ).alias("w0"),
        F.sum(
            F.expr(
                "CASE WHEN i0 >= 32 AND x > 0"
                " THEN CAST(1 AS BIGINT) << CAST(i0 - 32 AS INT)"
                " ELSE 0 END"
            )
        ).alias("w1"),
    )
    q = bits.where(F.col("vec_id") == 0).select(
        F.col("w0").alias("q0"), F.col("w1").alias("q1")
    )
    d = (
        bits.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.expr("w0 ^ q0"))
                + F.bit_count(F.expr("w1 ^ q1"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
    )
    return d.orderBy(F.asc("hamming"), F.asc("vec_id")).limit(10)


_BH_SHORTLIST = 50  # Hamming-stage candidates fed to the exact refine


@_q(
    "embed_binary_rerank",
    f"""WITH e AS (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings),
    bits AS (SELECT vec_id,
                    SUM(CASE WHEN i <= 32 AND x > 0
                        THEN CAST(1 AS BIGINT) << CAST(i - 1 AS INT)
                        ELSE 0 END) AS w0,
                    SUM(CASE WHEN i > 32 AND x > 0
                        THEN CAST(1 AS BIGINT) << CAST(i - 33 AS INT)
                        ELSE 0 END) AS w1
             FROM e GROUP BY vec_id),
    qb AS (SELECT w0 AS q0, w1 AS q1 FROM bits WHERE vec_id = 0),
    short AS (SELECT b.vec_id,
                     bit_count(xor(b.w0, qb.q0))
                       + bit_count(xor(b.w1, qb.q1)) AS hamming
              FROM bits b CROSS JOIN qb WHERE b.vec_id <> 0
              ORDER BY hamming ASC, vec_id ASC LIMIT {_BH_SHORTLIST}),
    dots AS (SELECT s.vec_id, s.hamming,
                    SUM(CAST(a.x AS DOUBLE) * CAST(c.x AS DOUBLE)) AS dot,
                    SQRT(SUM(CAST(a.x AS DOUBLE) * CAST(a.x AS DOUBLE)))
                      AS na,
                    SQRT(SUM(CAST(c.x AS DOUBLE) * CAST(c.x AS DOUBLE)))
                      AS nc
             FROM short s
             JOIN e c ON c.vec_id = s.vec_id
             JOIN e a ON a.i = c.i AND a.vec_id = 0
             GROUP BY s.vec_id, s.hamming)
    SELECT vec_id, CAST(hamming AS BIGINT) AS hamming,
           CAST(ROUND(dot / (na * nc) * 1e6) AS BIGINT) AS cos_x1e6
    FROM dots ORDER BY cos_x1e6 DESC, vec_id ASC LIMIT 10""",
)
def embed_binary_rerank(spark, sf_dir):
    """Two-stage binary retrieval (Yamada 2021's deployed shape): the
    sign-bit Hamming stage shortlists {_BH_SHORTLIST} candidates from the
    16-byte/vector packed index, then ONLY the shortlist's full float
    vectors are read for an exact cosine re-rank. The Hamming stage's
    recall ceiling becomes the pipeline's recall; the refine stage fixes
    the ordering — same division of labor as embed_pq_rerank, with a 4x
    smaller first-stage index.

    100 TB shape: stage 1 scans only the packed words (corpus-sized but
    16 bytes/row, broadcast query); stage 2's expensive full-vector read
    touches a CONSTANT {_BH_SHORTLIST} rows regardless of corpus size —
    the semi-join prunes the float column at the scan. Numeric parity:
    exact cosine on the shortlist reuses the Arrow-batched numpy path;
    the oracle's double math is order-identical because the per-vector
    dot is a single 64-element sum both engines evaluate in index order.

    Reference analog: none (embedding addendum; pairs with
    embed_binary_hamming / embed_pq_rerank)."""
    emb = _fan_out(_t(spark, sf_dir, "embeddings"))
    ex = emb.select("vec_id", F.posexplode("embedding").alias("i0", "x"))
    bits = ex.groupBy("vec_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN i0 < 32 AND x > 0"
                " THEN CAST(1 AS BIGINT) << CAST(i0 AS INT) ELSE 0 END"
            )
        ).alias("w0"),
        F.sum(
            F.expr(
                "CASE WHEN i0 >= 32 AND x > 0"
                " THEN CAST(1 AS BIGINT) << CAST(i0 - 32 AS INT)"
                " ELSE 0 END"
            )
        ).alias("w1"),
    )
    qb = bits.where(F.col("vec_id") == 0).select(
        F.col("w0").alias("q0"), F.col("w1").alias("q1")
    )
    short = (
        bits.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qb))
        .select(
            "vec_id",
            (
                F.bit_count(F.expr("w0 ^ q0"))
                + F.bit_count(F.expr("w1 ^ q1"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
        .orderBy(F.asc("hamming"), F.asc("vec_id"))
        .limit(_BH_SHORTLIST)
    )
    cand = emb.join(F.broadcast(short), "vec_id").crossJoin(
        F.broadcast(_query_vec(emb))
    )
    return _cos_top(cand, 10, "hamming")


@_q(
    "text_langid_eval",
    f"""{_TOKS_CTE},
    v AS (SELECT doc_id,
                 {_LANG_HITS_SQL}
          FROM toks GROUP BY doc_id),
    p AS (SELECT doc_id,
                 CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits
                           AND en_hits > 0 THEN 'en'
                      WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
                      WHEN fr_hits > 0 THEN 'fr'
                      ELSE 'unknown' END AS lang_pred
          FROM v),
    cm AS (SELECT d.lang AS lang_true, p.lang_pred, COUNT(*) AS n
           FROM p JOIN documents d ON d.doc_id = p.doc_id
           GROUP BY d.lang, p.lang_pred),
    tot AS (SELECT lang_true, SUM(n) AS n_true FROM cm GROUP BY lang_true)
    SELECT cm.lang_true, cm.lang_pred, CAST(cm.n AS BIGINT) AS n,
           CAST(cm.n * 1000000 // tot.n_true AS BIGINT) AS row_ppm,
           CAST(CASE WHEN cm.lang_true = cm.lang_pred
                THEN 1 ELSE 0 END AS BIGINT) AS is_correct
    FROM cm JOIN tot ON tot.lang_true = cm.lang_true
    ORDER BY cm.lang_true, cm.lang_pred""",
)
def text_langid_eval(spark, sf_dir):
    """Confusion matrix of the language-ID heuristic against the corpus's
    true lang labels (the eval every pipeline runs before trusting a
    langid gate: per (true, predicted) cell count + row-normalized rate).
    Per-language recall is the diagonal's row_ppm; off-diagonal mass says
    WHICH confusion dominates — the same measure-your-operator discipline
    as search_fuzzy_eval / curate_calibration / kg_linking_tier_accuracy.

    100 TB shape: the langid pass is the same one map-side-combinable
    stopword-vote aggregate text_langid ships; the confusion rollup joins
    doc-grain predictions to doc-grain labels on doc_id (the table's
    native key) and collapses to |langs|^2 cells immediately.

    Reference analog: none (text-analysis addendum; eval family)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs)
    hits = toks.groupBy("doc_id").agg(*_lang_hit_cols())
    pred = _lang_pred()
    p = hits.select("doc_id", pred.alias("lang_pred"))
    cm = (
        p.join(docs.select("doc_id", F.col("lang").alias("lang_true")),
               "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cm.groupBy("lang_true").agg(F.sum("n").alias("n_true"))
    return (
        cm.join(F.broadcast(tot), "lang_true")
        .select(
            "lang_true",
            "lang_pred",
            F.col("n").cast("bigint").alias("n"),
            F.expr("CAST(n * 1000000 DIV n_true AS BIGINT)").alias(
                "row_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN lang_true = lang_pred THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is_correct"),
        )
        .orderBy(F.asc("lang_true"), F.asc("lang_pred"))
    )


@_q(
    "events_bot_flag",
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS us
                   FROM events WHERE user_id IS NOT NULL),
    m AS (SELECT user_id, us // 60000000 AS minute_n, COUNT(*) AS n
          FROM ev GROUP BY user_id, minute_n),
    u AS (SELECT user_id,
                 SUM(n) AS n_events,
                 COUNT(*) AS n_active_min,
                 MAX(n) AS peak_per_min
          FROM m GROUP BY user_id)
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_active_min AS BIGINT) AS n_active_min,
           CAST(peak_per_min AS BIGINT) AS peak_per_min,
           CAST(n_events * 1000 // n_active_min AS BIGINT)
             AS rate_x1000,
           CAST(CASE WHEN peak_per_min >= 5
                       OR n_events * 1000 // n_active_min >= 3000
                THEN 1 ELSE 0 END AS BIGINT) AS is_bot
    FROM u ORDER BY user_id""",
)
def events_bot_flag(spark, sf_dir):
    """Rate-based bot/crawler detection over the event stream (the traffic
    hygiene gate a webtext pipeline runs before treating behavior as
    human signal): per user, events per active minute and the peak
    single-minute burst; flag when either exceeds threshold. Exact
    integer minute bucketing + rational rates — no float, no RNG.

    100 TB shape: one map-side-combinable (user, minute) count, one
    (user) rollup — two shuffles on the stream's native key family, both
    combiner-friendly; the flag predicate is a scan-fused projection.

    Reference analog: none (events addendum; pairs with events_anomaly /
    events_abtest — bots are the classic A/B contamination source)."""
    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "user_id",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 60000000"
            " AS BIGINT)"
        ).alias("minute_n"),
    )
    m = ev.groupBy("user_id", "minute_n").agg(
        F.count(F.lit(1)).alias("n")
    )
    u = m.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_active_min"),
        F.max("n").alias("peak_per_min"),
    )
    return u.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_active_min").cast("bigint").alias("n_active_min"),
        F.col("peak_per_min").cast("bigint").alias("peak_per_min"),
        F.expr(
            "CAST(n_events * 1000 DIV n_active_min AS BIGINT)"
        ).alias("rate_x1000"),
        F.expr(
            "CAST(CASE WHEN peak_per_min >= 5"
            " OR n_events * 1000 DIV n_active_min >= 3000"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_bot"),
    ).orderBy(F.asc("user_id"))


@_q(
    "embed_ann_eval",
    f"""WITH truth AS (SELECT vec_id FROM ({ORACLE_SQL["embed_topk_cosine"]}) t),
    la AS (SELECT vec_id FROM ({ORACLE_SQL["embed_ann_lsh_wide"]}) t),
    lb AS (SELECT vec_id FROM ({ORACLE_SQL["embed_binary_hamming"]}) t),
    ra AS (SELECT 'lsh_wide' AS variant, COUNT(*) AS n_hit FROM la
           WHERE vec_id IN (SELECT vec_id FROM truth)),
    rb AS (SELECT 'binary_hamming' AS variant, COUNT(*) AS n_hit FROM lb
           WHERE vec_id IN (SELECT vec_id FROM truth))
    SELECT variant, CAST(10 AS BIGINT) AS k,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_hit * 1000000 // 10 AS BIGINT) AS recall_ppm
    FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb) u
    ORDER BY variant""",
)
def embed_ann_eval(spark, sf_dir):
    """In-engine ANN recall eval: recall@10 of the LSH-multiprobe and
    binary-Hamming variants against the exact cosine top-10, as a QUERY —
    so ANN quality is oracle-gated every round, not just reported by
    scripts/ann_recall.py. Both approximate legs and the truth leg are
    the SAME registered queries the engine ships (composed, not
    re-implemented), so the evaluated index is the deployed index.

    100 TB shape: composes three already-bounded plans (each ends in a
    10-row top-k) with two 10x10 semi-joins and single-row counts — the
    eval itself adds nothing corpus-sized.

    Reference analog: none (embedding-eval addendum; the query-surface
    twin of scripts/ann_recall.py, eval family)."""
    truth = embed_topk_cosine(spark, sf_dir).select("vec_id")
    legs = (
        ("binary_hamming", embed_binary_hamming),
        ("lsh_wide", embed_ann_lsh_wide),
    )
    out = None
    for name, fn in legs:
        hit = (
            fn(spark, sf_dir)
            .select("vec_id")
            .join(F.broadcast(truth), "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .select(
                F.lit(name).alias("variant"),
                F.lit(10).cast("bigint").alias("k"),
                F.col("n_hit").cast("bigint").alias("n_hit"),
                F.expr("CAST(n_hit * 1000000 DIV 10 AS BIGINT)").alias(
                    "recall_ppm"
                ),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out.orderBy(F.asc("variant"))


@_q(
    "mm_caption_pairs",
    """WITH m AS (SELECT doc_id,
                         CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                         CAST(octet_length(encode(text)) % 640 AS INT)
                           AS fake_width,
                         CAST((octet_length(encode(text)) * 7) % 480 AS INT)
                           AS fake_height
                  FROM documents WHERE text IS NOT NULL)
    SELECT m.doc_id,
           substr(d.text, 1, 80) AS caption,
           CAST(m.n_bytes AS BIGINT) AS n_bytes,
           CAST(m.fake_width AS BIGINT) AS width,
           CAST(m.fake_height AS BIGINT) AS height,
           CAST(m.fake_width * 1000 // m.fake_height AS BIGINT)
             AS aspect_x1000
    FROM m JOIN documents d ON d.doc_id = m.doc_id
    WHERE m.fake_width >= 64 AND m.fake_height >= 64
      AND m.fake_width * 1000 // m.fake_height BETWEEN 333 AND 3000
    ORDER BY m.doc_id""",
)
def mm_caption_pairs(spark, sf_dir):
    """Caption-training pair export (the LAION-style media/text join: for
    every media blob that survives the size and aspect-ratio gates, emit
    (caption, media metadata) — the table a contrastive captioner trains
    on). Composes the multimodal decode stage's typed metadata with the
    document text on the table's native doc_id key; the gates (min 64 px
    per side, aspect in [1:3, 3:1]) mirror the standard web-scale
    image-text filters. The decoder is the documented stub seam
    (functions/multimodal.py) — the join/filter/export plumbing is the
    real, tested Spark shape.

    100 TB shape: decode metadata is a narrow per-row projection
    (mapInPandas, Arrow-batched); the pair join is doc_id-to-doc_id —
    both sides already hash-partitioned by the table's key, so AQE plans
    it exchange-light; the gates are scan-fused predicates. Caption
    truncation is substring, not tokenization — no UDF in the export.

    Reference analog: none (multimodal addendum; pairs with
    mm_decode_meta / mm_resize_meta)."""
    from ..functions.multimodal import decode_stage

    docs = _t(spark, sf_dir, "documents")
    m = decode_stage(
        docs.where(F.col("text").isNotNull()).select(
            "doc_id", F.encode("text", "utf-8").alias("payload")
        )
    ).select("doc_id", "n_bytes", "fake_width", "fake_height")
    j = m.join(docs.select("doc_id", "text"), "doc_id")
    return (
        j.where(
            (F.col("fake_width") >= 64)
            & (F.col("fake_height") >= 64)
            & F.expr(
                "fake_width * 1000 DIV fake_height BETWEEN 333 AND 3000"
            )
        )
        .select(
            "doc_id",
            F.substring("text", 1, 80).alias("caption"),
            F.col("n_bytes").cast("bigint").alias("n_bytes"),
            F.col("fake_width").cast("bigint").alias("width"),
            F.col("fake_height").cast("bigint").alias("height"),
            F.expr(
                "CAST(fake_width * 1000 DIV fake_height AS BIGINT)"
            ).alias("aspect_x1000"),
        )
        .orderBy(F.asc("doc_id"))
    )


@_q(
    "events_rate_ci",
    """WITH d AS (SELECT event_type,
                         COUNT(*) AS n,
                         COUNT(DISTINCT epoch_us(ts) // 86400000000)
                           AS days
                  FROM events GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(days AS BIGINT) AS days,
           CAST(n * 1000000 // days AS BIGINT) AS rate_x1e6,
           CAST(GREATEST(n * 1000000 // days
                         - 196 * CAST(FLOOR(SQRT(CAST(n AS DOUBLE) * 1e12))
                                      AS BIGINT) // (100 * days),
                         0) AS BIGINT) AS lo_x1e6,
           CAST(n * 1000000 // days
                + 196 * CAST(FLOOR(SQRT(CAST(n AS DOUBLE) * 1e12))
                             AS BIGINT) // (100 * days)
             AS BIGINT) AS hi_x1e6
    FROM d ORDER BY event_type""",
)
def events_rate_ci(spark, sf_dir):
    """Per-type daily event-rate with a 95% Poisson confidence band
    (rate ± 1.96·sqrt(n)/days — the capacity-planning and alerting
    readout that says whether yesterday's dip is noise or a real drop;
    pairs with events_anomaly and events_forecast_eval). Integer-exact
    cross-engine: sqrt(n)·1e6 computes as FLOOR(SQRT(n·1e12)) (IEEE sqrt
    is correctly rounded in both engines, n·1e12 < 2^53 exact), and the
    1.96 multiplier is the 196/100 rational — no float accumulation.

    100 TB shape: one map-side-combinable per-type aggregate (COUNT +
    COUNT DISTINCT day, which expands to the standard partial/merge
    pair over (type, day)); the band math is a |types|-row projection.

    Reference analog: none (events addendum; monitoring family)."""
    d = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
                " AS BIGINT)"
            ).alias("day_n"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("day_n").alias("days"),
        )
    )
    delta = (
        "196 * CAST(FLOOR(SQRT(CAST(n AS DOUBLE) * 1e12)) AS BIGINT)"
        " DIV (100 * days)"
    )
    return d.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("days").cast("bigint").alias("days"),
        F.expr("CAST(n * 1000000 DIV days AS BIGINT)").alias("rate_x1e6"),
        F.expr(
            f"CAST(GREATEST(n * 1000000 DIV days - {delta}, 0) AS BIGINT)"
        ).alias("lo_x1e6"),
        F.expr(
            f"CAST(n * 1000000 DIV days + {delta} AS BIGINT)"
        ).alias("hi_x1e6"),
    ).orderBy(F.asc("event_type"))


@_q(
    "kg_doc_entity_salience",
    f"""WITH toks AS (SELECT doc_id, term,
                             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id)
                                  AS BIGINT) AS pos
                      FROM (SELECT doc_id,
                                   unnest(string_split(text, ' ')) AS term
                            FROM documents) t
                      WHERE term <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY doc_id),
    m AS (SELECT doc_id, term, COUNT(*) AS n_occ, MIN(pos) AS first_pos
          FROM toks WHERE term IN {_TERMS_SQL} GROUP BY doc_id, term),
    mx AS (SELECT doc_id, MAX(n_occ) AS max_occ FROM m GROUP BY doc_id),
    s AS (SELECT m.doc_id, m.term, m.n_occ, m.first_pos, dl.doc_len,
                 CAST(m.n_occ * 500000 // mx.max_occ
                      + 500000 * (dl.doc_len - m.first_pos) // dl.doc_len
                      AS BIGINT) AS salience_x1e6
          FROM m JOIN dl ON dl.doc_id = m.doc_id
                JOIN mx ON mx.doc_id = m.doc_id)
    SELECT doc_id, term, CAST(n_occ AS BIGINT) AS n_occ,
           CAST(first_pos AS BIGINT) AS first_pos,
           CAST(doc_len AS BIGINT) AS doc_len, salience_x1e6
    FROM s WHERE doc_id < 50
    ORDER BY doc_id, salience_x1e6 DESC, term""",
)
def kg_doc_entity_salience(spark, sf_dir):
    """Per-(document, entity) salience scoring (the aboutness signal an
    entity-centric index ranks by — Google NLP's entity salience,
    Gamon 2013): half the score from within-doc relative frequency, half
    from how early the first mention lands (lead-paragraph entities are
    what the page is ABOUT; a trailing boilerplate mention is not).
    All-integer rationals; demo slice pins doc_id < 50.

    Position note: ROW_NUMBER() with no ORDER BY is token order only
    because both engines preserve the unnest/posexplode order of a
    single array — pinned here by using one row per doc upstream; the
    production variant carries posexplode's own index, which is what the
    Spark side uses (order-free by construction).

    100 TB shape: one dictionary-filtered token pass (filter INSIDE the
    explode as everywhere else), two map-side-combinable aggregates on
    (doc) and (doc, term), and doc-keyed broadcast-friendly joins — the
    salience table is |docs| x |dictionary hits| rows, the index's
    posting-list scale.

    Reference analog: code_finder's most-referenced ranking is corpus-
    grain (code_finder.py:170-234); this is its doc-grain aboutness
    refinement."""
    docs = _t(spark, sf_dir, "documents").where("doc_id < 50")
    toks = _fan_out(docs).select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda t: t != "")
        ).alias("pos0", "term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))
    m = (
        toks.where(F.col("term").isin(DICT_TERMS))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            (F.min("pos0") + 1).alias("first_pos"),
        )
    )
    mx = m.groupBy("doc_id").agg(F.max("n_occ").alias("max_occ"))
    return (
        m.join(dl, "doc_id")
        .join(mx, "doc_id")
        .select(
            "doc_id",
            "term",
            F.col("n_occ").cast("bigint").alias("n_occ"),
            F.col("first_pos").cast("bigint").alias("first_pos"),
            F.col("doc_len").cast("bigint").alias("doc_len"),
            F.expr(
                "CAST(n_occ * 500000 DIV max_occ"
                " + 500000 * (doc_len - first_pos) DIV doc_len AS BIGINT)"
            ).alias("salience_x1e6"),
        )
        .orderBy(F.asc("doc_id"), F.desc("salience_x1e6"), F.asc("term"))
    )


@_q(
    "events_stickiness",
    """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_n
                   FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT day_n, COUNT(DISTINCT user_id) AS dau
            FROM ev GROUP BY day_n),
    wk AS (SELECT day_n // 7 AS week_n, SUM(dau) AS dau_days,
                  COUNT(*) AS n_days
           FROM dau GROUP BY week_n),
    wau AS (SELECT day_n // 7 AS week_n, COUNT(DISTINCT user_id) AS wau
            FROM ev GROUP BY week_n)
    SELECT CAST(wk.week_n AS BIGINT) AS week_n,
           CAST(wk.n_days AS BIGINT) AS n_days,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(wk.dau_days * 1000000 // (wk.n_days * wau.wau) AS BIGINT)
             AS stickiness_ppm
    FROM wk JOIN wau ON wau.week_n = wk.week_n
    ORDER BY week_n""",
)
def events_stickiness(spark, sf_dir):
    """Weekly DAU/WAU stickiness (the product-health ratio: what fraction
    of a week's actives show up on an average day; 1e6 = everyone, every
    day). Integer epoch-day and epoch-week bucketing (day DIV 7 — the
    same alignment trick as events_cohort_matrix), avg-DAU as the exact
    rational sum(dau)*1e6 DIV (days*wau) — no float.

    100 TB shape: two COUNT DISTINCT aggregates on the stream's native
    user key — each expands to the standard partial/merge pair over
    (day, user) / (week, user); everything after is |weeks| rows.

    Reference analog: none (events addendum; pairs with events_retention
    / events_cohort_matrix)."""
    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "user_id",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
            " AS BIGINT)"
        ).alias("day_n"),
    )
    dau = ev.groupBy("day_n").agg(
        F.countDistinct("user_id").alias("dau")
    )
    wk = dau.groupBy(F.expr("day_n DIV 7").alias("week_n")).agg(
        F.sum("dau").alias("dau_days"), F.count(F.lit(1)).alias("n_days")
    )
    wau = ev.groupBy(F.expr("day_n DIV 7").alias("week_n")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        wk.join(wau, "week_n")
        .select(
            F.col("week_n").cast("bigint").alias("week_n"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("wau").cast("bigint").alias("wau"),
            F.expr(
                "CAST(dau_days * 1000000 DIV (n_days * wau) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .orderBy(F.asc("week_n"))
    )


_ATTR_LOOKBACK_US = 7 * 86_400_000_000  # first-touch lookback window (7 days)


@_q(
    "events_attribution",
    f"""WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events WHERE user_id IS NOT NULL),
    att AS (
      SELECT event_type, us, event_id,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_ch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING
                           AND 1 PRECEDING)
               AS first_ch
      FROM ev),
    conv AS (SELECT last_ch, first_ch FROM att
             WHERE event_type = 'purchase'),
    credit AS (
      SELECT last_ch AS channel, 1 AS lt, 0 AS ft FROM conv
      WHERE last_ch IS NOT NULL
      UNION ALL
      SELECT first_ch, 0, 1 FROM conv WHERE first_ch IS NOT NULL)
    SELECT channel,
           CAST(SUM(lt) AS BIGINT) AS n_last_touch,
           CAST(SUM(ft) AS BIGINT) AS n_first_touch
    FROM credit GROUP BY channel ORDER BY channel""",
)
def events_attribution(spark, sf_dir):
    """Conversion attribution over the event stream: every purchase is
    credited to (a) the user's immediately-preceding non-purchase event
    (last-touch) and (b) the user's FIRST non-purchase event inside the
    7-day lookback window (first-touch) — the two standard marketing
    attribution models, computed exactly from the ordered per-user
    timeline, reported as per-channel conversion counts. The gap between
    the two columns is the classic upper-funnel-vs-closer signal.

    100 TB shape: the attribution windows (a rows-frame and a
    microsecond range-frame) share ONE user_id exchange; credits then
    unpivot into (channel, lt, ft) rows and collapse through a single
    map-side-combinable groupBy — no join anywhere (the naive
    two-aggregate full-outer join would sort-merge two channel tables),
    and everything past the window is channel-cardinality rows.

    Reference analog: none (events addendum; pairs with events_funnel /
    events_abtest on the conversion-analysis side)."""
    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_id",
    )
    from pyspark.sql import Window

    nonp = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ATTR_LOOKBACK_US, -1)
    )
    att = ev.select(
        "event_type",
        F.last(nonp, ignorenulls=True).over(w_rows).alias("last_ch"),
        F.first(nonp, ignorenulls=True).over(w_range).alias("first_ch"),
    )
    conv = att.where(F.col("event_type") == "purchase")
    # both credits emit from ONE pass over the window output (an explode of
    # a 2-element struct array) — a union of two selects would duplicate
    # the whole window subtree and shuffle events on user_id twice
    credit = (
        conv.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("last_ch").alias("channel"),
                        F.lit(1).alias("lt"),
                        F.lit(0).alias("ft"),
                    ),
                    F.struct(
                        F.col("first_ch").alias("channel"),
                        F.lit(0).alias("lt"),
                        F.lit(1).alias("ft"),
                    ),
                )
            ).alias("c")
        )
        .select("c.*")
        .where(F.col("channel").isNotNull())
    )
    return (
        credit.groupBy("channel")
        .agg(
            F.sum("lt").cast("bigint").alias("n_last_touch"),
            F.sum("ft").cast("bigint").alias("n_first_touch"),
        )
        .orderBy("channel")
    )


@_q(
    "events_power_curve",
    """WITH per_user AS (
      SELECT user_id, COUNT(*) AS n_ev
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    ranked AS (
      SELECT n_ev,
             NTILE(10) OVER (ORDER BY n_ev DESC, user_id ASC) AS decile
      FROM per_user),
    dec AS (SELECT decile, COUNT(*) AS n_users, SUM(n_ev) AS n_events
            FROM ranked GROUP BY decile),
    tot AS (SELECT SUM(n_events) AS total FROM dec)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(SUM(n_events) OVER (ORDER BY decile) * 1000000
                // tot.total AS BIGINT) AS cum_share_ppm
    FROM dec, tot ORDER BY decile""",
)
def events_power_curve(spark, sf_dir):
    """Activity concentration (Lorenz curve by user decile): users ranked
    by event count, bucketed into deciles, with each decile's exact
    cumulative share of all events (ppm). The curve is the standard
    whale-analysis readout — cum_share_ppm of decile 1 answers "what
    fraction of traffic do the top 10% of users generate", and its shape
    is the skew evidence that justifies salting hot user keys in every
    user-partitioned job downstream.

    100 TB shape: the per-user rollup is a map-side-combinable groupBy on
    the stream's native key; what remains is |users| rows, and the NTILE
    ranking over that reduced table is the only global sort — decile and
    cumulative tables are 10 rows, joined to the 1-row total by
    broadcast. Ties break on user_id so both engines bucket identically.

    Reference analog: none (events addendum; the user-grain counterpart
    of events_top_users' raw top-k)."""
    from pyspark.sql import Window

    per_user = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    ranked = per_user.select(
        "n_ev",
        F.ntile(10)
        .over(Window.orderBy(F.desc("n_ev"), F.asc("user_id")))
        .alias("decile"),
    )
    dec = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("n_ev").alias("n_events")
    )
    tot = dec.agg(F.sum("n_events").alias("total"))
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n_users").cast("bigint").alias("n_users"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.expr(
                "CAST(sum(n_events) OVER (ORDER BY decile"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " * 1000000 DIV total AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


@_q(
    "events_rfm",
    """WITH ev AS (
      SELECT user_id, event_type, value,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_n
      FROM events WHERE user_id IS NOT NULL),
    anchor AS (SELECT MAX(day_n) AS d_max FROM ev),
    per_user AS (
      SELECT user_id,
             (SELECT d_max FROM anchor) - MAX(day_n) AS recency_d,
             COUNT(*) AS frequency,
             CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                                 THEN value ELSE 0 END) * 100) AS BIGINT)
               AS monetary_x100
      FROM ev GROUP BY user_id),
    scored AS (
      SELECT NTILE(5) OVER (ORDER BY recency_d ASC, user_id ASC) AS r,
             NTILE(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
             NTILE(5) OVER (ORDER BY monetary_x100 DESC, user_id ASC) AS m,
             monetary_x100
      FROM per_user)
    SELECT CAST(r AS BIGINT) AS r_score, CAST(f AS BIGINT) AS f_score,
           CAST(m AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary_x100) AS BIGINT) AS monetary_x100
    FROM scored GROUP BY r, f, m
    ORDER BY r_score, f_score, m_score""",
)
def events_rfm(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary): each user
    scored 1-5 by quintile on days-since-last-event, event count, and
    purchase value; reported as the segment-grid cell counts with total
    monetary per cell. The (1,1,1) cell is the champions segment, (5,x,x)
    the churned — the standard user-base health grid, computed with
    deterministic quintiles (ties break on user_id, identically in both
    engines).

    100 TB shape: one map-side-combinable groupBy(user) collapses the
    stream to |users| rows; the recency anchor is a 1-row broadcast; the
    three NTILE rankings run over the reduced user table (at true scale,
    quantile-bucket by pre-computed boundaries instead of a global sort
    — the 125-cell output is the same); the final rollup is
    125-row-bounded.

    Reference analog: none (events addendum; the segmentation layer over
    events_retention / events_stickiness's health metrics)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "user_id",
        "event_type",
        "value",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
        ).alias("day_n"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("day_n").alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(F.lit(0))
            )
            * 100
        )
        .cast("bigint")
        .alias("monetary_x100"),
    )
    anchor = per_user.agg(F.max("last_day").alias("d_max"))
    scored = per_user.crossJoin(F.broadcast(anchor)).select(
        (F.col("d_max") - F.col("last_day")).alias("recency_d"),
        "frequency",
        "monetary_x100",
        "user_id",
    ).select(
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_d"), F.asc("user_id")))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_x100"), F.asc("user_id")))
        .alias("m"),
        "monetary_x100",
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("monetary_x100").alias("mon"),
        )
        .select(
            F.col("r").cast("bigint").alias("r_score"),
            F.col("f").cast("bigint").alias("f_score"),
            F.col("m").cast("bigint").alias("m_score"),
            F.col("n_users").cast("bigint").alias("n_users"),
            F.col("mon").cast("bigint").alias("monetary_x100"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@_q(
    "events_interarrival",
    """WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
      FROM events WHERE user_id IS NOT NULL),
    gaps AS (
      SELECT event_type,
             us - LAG(us) OVER (PARTITION BY user_id, event_type
                                ORDER BY us, event_id) AS gap_us
      FROM ev),
    g AS (SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL),
    ranked AS (
      SELECT event_type, gap_us,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gap_us, event_type) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM g)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rn = (n - 1) // 2 + 1
                         THEN gap_us END) // 1000000 AS BIGINT) AS p50_s,
           CAST(MAX(CASE WHEN rn = (n - 1) * 9 // 10 + 1
                         THEN gap_us END) // 1000000 AS BIGINT) AS p90_s,
           CAST(MAX(gap_us) // 1000000 AS BIGINT) AS max_s
    FROM ranked GROUP BY event_type ORDER BY event_type""",
)
def events_interarrival(spark, sf_dir):
    """Inter-arrival cadence per event type: the gap between a user's
    consecutive events of the same type, summarized as EXACT p50/p90/max
    seconds (rank-statistic selection over integer microsecond gaps — not
    percentile_approx, so both engines agree bit-for-bit). The cadence
    table is the empirical base for session-timeout choices
    (events_sessions' gap parameter), bot-rate thresholds
    (events_bot_flag), and watermark widths in the streaming twins.

    100 TB shape: the LAG runs on the (user_id, event_type) partition —
    one shuffle on the stream's native key; the percentile selection
    re-keys the GAP rows by event_type (a handful of partitions but
    nothing driver-sized; at true scale swap the exact rank-select for a
    fixed-width gap histogram, same 5-column output). Output is
    |event_types| rows.

    Reference analog: none (events addendum; the cadence profile feeding
    events_sessions / events_bot_flag parameter choices)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_id",
    )
    w_lag = Window.partitionBy("user_id", "event_type").orderBy(
        "us", "event_id"
    )
    g = (
        ev.select(
            "event_type",
            (F.col("us") - F.lag("us").over(w_lag)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        "gap_us", "event_type"
    )
    w_n = Window.partitionBy("event_type")
    ranked = g.select(
        "event_type",
        "gap_us",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            F.expr(
                "CAST(MAX(CASE WHEN rn = (n - 1) DIV 2 + 1"
                " THEN gap_us END) DIV 1000000 AS BIGINT)"
            ).alias("p50_s"),
            F.expr(
                "CAST(MAX(CASE WHEN rn = (n - 1) * 9 DIV 10 + 1"
                " THEN gap_us END) DIV 1000000 AS BIGINT)"
            ).alias("p90_s"),
            F.expr(
                "CAST(MAX(gap_us) DIV 1000000 AS BIGINT)"
            ).alias("max_s"),
        )
        .orderBy("event_type")
    )


_DEDUP_SWEEP_TS = (500_000, 600_000, 700_000, 800_000, 900_000)


@_q(
    "curate_dedup_sweep",
    f"""{_SHINGLE_PAIRS_CTE},
    sim AS (
      SELECT p.doc_b,
             MAX(p.n_shared * 1000000 // (sa.n + sb.n - p.n_shared))
               AS max_sim
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE p.n_shared >= 2 GROUP BY p.doc_b),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    ts AS (SELECT UNNEST(ARRAY{list(_DEDUP_SWEEP_TS)}) AS t)
    SELECT CAST(ts.t AS BIGINT) AS threshold_x1e6,
           CAST(COUNT(sim.doc_b) AS BIGINT) AS n_removed,
           CAST(nd.n_docs - COUNT(sim.doc_b) AS BIGINT) AS n_kept,
           CAST((nd.n_docs - COUNT(sim.doc_b)) * 1000000 // nd.n_docs
                AS BIGINT) AS kept_ppm
    FROM ts CROSS JOIN nd
    LEFT JOIN sim ON sim.max_sim >= ts.t
    GROUP BY ts.t, nd.n_docs ORDER BY threshold_x1e6""",
)
def curate_dedup_sweep(spark, sf_dir):
    """Near-dup threshold sweep: for each candidate Jaccard cutoff, how
    many documents the keep-earliest policy would remove (a doc is
    removed when ANY earlier doc overlaps it at >= t) and the corpus
    fraction retained. This is the knob-setting table a curator reads
    BEFORE running curate_canonical — the retained-fraction elbow picks
    the production threshold, instead of inheriting 0.8 from a paper.

    100 TB shape: the expensive legs are the capped shingle scan and the
    DF-capped pair join (shared discipline with dedup_shingle_pairs);
    everything after collapses to a per-doc MAX (map-side combinable,
    |dup-candidate docs| rows), and the sweep is a broadcast
    nested-loop of the 5-row threshold table against that reduced
    per-doc table — one pair computation serves every threshold, the
    corpus is never rescanned per t.

    Reference analog: none (curation addendum; the sweep companion of
    dedup_cluster_stats' fixed-threshold census)."""
    docs = _t(spark, sf_dir, "documents")
    sim = (
        ensure_shingle_pairs(spark, sf_dir)
        .groupBy("doc_b")
        .agg(F.max("jaccard_x1e6").alias("max_sim"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    ts = spark.createDataFrame(
        [(t,) for t in _DEDUP_SWEEP_TS], "t bigint"
    )
    return (
        F.broadcast(ts)
        .crossJoin(F.broadcast(nd))
        .join(sim, sim["max_sim"] >= ts["t"], "left")
        .groupBy("t", "n_docs")
        .agg(F.count("doc_b").alias("n_removed"))
        .select(
            F.col("t").cast("bigint").alias("threshold_x1e6"),
            F.col("n_removed").cast("bigint").alias("n_removed"),
            (F.col("n_docs") - F.col("n_removed"))
            .cast("bigint")
            .alias("n_kept"),
            F.expr(
                "CAST((n_docs - n_removed) * 1000000 DIV n_docs AS BIGINT)"
            ).alias("kept_ppm"),
        )
        .orderBy("threshold_x1e6")
    )


@_q(
    "er_pair_features",
    f"""{_SHINGLE_PAIRS_CTE},
    jp AS (
      SELECT p.doc_a, p.doc_b, p.n_shared,
             p.n_shared * 1000000 // (sa.n + sb.n - p.n_shared) AS j_x1e6
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE p.n_shared >= 2)
    SELECT jp.doc_a, jp.doc_b,
           CAST(jp.n_shared AS BIGINT) AS n_shared,
           CAST(jp.j_x1e6 AS BIGINT) AS jaccard_x1e6,
           CAST(CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END AS BIGINT)
             AS same_lang,
           CAST(CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS BIGINT)
             AS same_source,
           CAST(LEAST(da.n_chars, db.n_chars) * 1000
                // GREATEST(da.n_chars, db.n_chars) AS BIGINT)
             AS len_ratio_x1000
    FROM jp
    JOIN documents da ON da.doc_id = jp.doc_a
    JOIN documents db ON db.doc_id = jp.doc_b
    ORDER BY jaccard_x1e6 DESC, doc_a ASC, doc_b ASC LIMIT 50""",
)
def er_pair_features(spark, sf_dir):
    """Entity-resolution training-pair export: every blocked candidate
    pair with the feature vector a pairwise match classifier consumes —
    shingle overlap, Jaccard, language agreement, source agreement, and
    length ratio (Fellegi-Sunter comparison vector, computed at corpus
    scale). The strongest pairs surface first, so the table doubles as a
    labeling worklist: annotate the head, train on the features.

    100 TB shape: candidate generation is the DF-capped inverted-index
    join (bounded fan-out per shingle, shared with dedup_shingle_pairs);
    the metadata joins key on doc_id with no forced broadcast (the
    documents dim is corpus-sized — AQE picks the strategy), and the
    top-50 compiles to TakeOrderedAndProject, never a global sort.

    Reference analog: none (ER addendum; the feature-export step between
    er_blocking_quality's audit and a learned matcher)."""
    docs = _t(spark, sf_dir, "documents")
    jp = ensure_shingle_pairs(spark, sf_dir)
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("n_chars").alias("chars_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("n_chars").alias("chars_b"),
    )
    return (
        jp.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("jaccard_x1e6").cast("bigint").alias("jaccard_x1e6"),
            F.when(F.col("lang_a") == F.col("lang_b"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("same_lang"),
            F.when(F.col("source_a") == F.col("source_b"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("same_source"),
            F.expr(
                "CAST(LEAST(chars_a, chars_b) * 1000"
                " DIV GREATEST(chars_a, chars_b) AS BIGINT)"
            ).alias("len_ratio_x1000"),
        )
        .orderBy(
            F.desc("jaccard_x1e6"), F.asc("doc_a"), F.asc("doc_b")
        )
        .limit(50)
    )


_COV_DIM = 64  # embedding width (pinned by the testdata schema)


@_q(
    "embed_covariance",
    f"""WITH q AS (
      SELECT list_transform(embedding,
                            x -> CAST(round(x * 1000) AS BIGINT)) AS v
      FROM embeddings),
    n AS (SELECT COUNT(*) AS n FROM q),
    dims AS (SELECT UNNEST(range(1, {_COV_DIM} + 1)) AS d),
    marg AS (SELECT dims.d, SUM(q.v[dims.d]) AS s
             FROM q CROSS JOIN dims GROUP BY dims.d),
    prs AS (SELECT a.d AS i, b.d AS j FROM dims a
            JOIN dims b ON b.d >= a.d),
    sxy AS (SELECT prs.i, prs.j, SUM(q.v[prs.i] * q.v[prs.j]) AS sxy
            FROM q CROSS JOIN prs GROUP BY prs.i, prs.j)
    SELECT CAST(sxy.i - 1 AS BIGINT) AS i, CAST(sxy.j - 1 AS BIGINT) AS j,
           CAST(n.n AS BIGINT) AS n,
           CAST((n.n * sxy.sxy - mi.s * mj.s) // (n.n * n.n) AS BIGINT)
             AS cov_x1e6
    FROM sxy
    JOIN marg mi ON mi.d = sxy.i
    JOIN marg mj ON mj.d = sxy.j
    CROSS JOIN n
    ORDER BY i, j""",
)
def embed_covariance(spark, sf_dir):
    """Exact embedding covariance matrix (upper triangle): the input to
    whitening / PCA / ZCA preprocessing and the drift baseline
    embed_drift compares against. Components quantize to x1000 integers
    ONCE (the embed_kmeans discipline), so every moment is an exact
    int64 sum and both engines produce bit-identical covariances
    regardless of partition count or summation order; cov_x1e6 is the
    covariance in (x1000-unit)^2, i.e. 1e-6 of the float covariance.

    100 TB shape: one Arrow-batched pass over the vectors — each batch
    collapses to its partial Gram matrix (dim x dim ints via one BLAS
    outer product), its marginal sums, and a count, so the shuffle
    carries n_batches * O(dim^2) rows, never the corpus; the merge is a
    map-side-combinable groupBy(i, j) and the final join glues the
    dim-row marginals back by broadcast. At 1e9+ rows switch the moment
    accumulation to centered/128-bit to keep n*sxy inside int64 — the
    shape is unchanged.

    Reference analog: none (embedding addendum; the moment-matrix
    counterpart of embed_norms, feeding whitening and drift)."""
    tot = _embed_moments(spark, sf_dir)
    n = (
        tot.where((F.col("i") == -1) & (F.col("j") == -1))
        .select(F.col("v").alias("n"))
    )
    marg = tot.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("d"), F.col("v").alias("s")
    )
    prs = tot.where(F.col("j") >= 0).select("i", "j", F.col("v").alias("sxy"))
    mi = marg.select(F.col("d").alias("i"), F.col("s").alias("si"))
    mj = marg.select(F.col("d").alias("j"), F.col("s").alias("sj"))
    return (
        prs.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "CAST((n * sxy - si * sj) DIV (n * n) AS BIGINT)"
            ).alias("cov_x1e6"),
        )
        .orderBy("i", "j")
    )


def _embed_moments(spark, sf_dir):
    """One Arrow-batched corpus pass -> merged integer moment table:
    (i, j, v) = upper-triangle sums of quantized products, plus marginal
    rows (i, -1, sum_i) and the count row (-1, -1, n). Checkpointed
    because every consumer (covariance, power iteration) reads it several
    times. Shared by embed_covariance and embed_pca_power."""
    import numpy as np
    import pandas as pd

    emb = _fan_out(_t(spark, sf_dir, "embeddings")).select("embedding")

    def _gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.rint(
                np.stack(pdf["embedding"].to_numpy()) * 1000.0
            ).astype(np.int64)
            g = x.T @ x
            iu, ju = np.triu_indices(x.shape[1])
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(x.shape[1]), [-1]]),
                    "j": np.concatenate(
                        [ju, np.full(x.shape[1], -1), [-1]]
                    ),
                    "v": np.concatenate([g[iu, ju], s, [x.shape[0]]]),
                }
            )

    parts = emb.mapInPandas(_gram, "i int, j int, v long")
    # the merged moment table is O(dim^2) rows and feeds several
    # consumers — checkpoint it so the corpus Gram pass runs once
    return (
        parts.groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .localCheckpoint(eager=True)
    )


_PCA_ITERS = 3


def _pca_cov_cte() -> str:
    """DuckDB twin of the full (both-triangle) integer covariance
    numerator matrix cnum(i, j) = n*sxy - si*sj, 0-indexed dims."""
    return f"""WITH q AS (
      SELECT list_transform(embedding,
                            x -> CAST(round(x * 1000) AS BIGINT)) AS v
      FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM q),
    dims AS (SELECT UNNEST(range(1, {_COV_DIM} + 1)) AS d),
    marg AS (SELECT dims.d, SUM(q.v[dims.d]) AS s
             FROM q CROSS JOIN dims GROUP BY dims.d),
    prs AS (SELECT a.d AS i, b.d AS j FROM dims a
            JOIN dims b ON b.d >= a.d),
    sxy AS (SELECT prs.i, prs.j, SUM(q.v[prs.i] * q.v[prs.j]) AS sxy
            FROM q CROSS JOIN prs GROUP BY prs.i, prs.j),
    ut AS (SELECT sxy.i, sxy.j,
                  nn.n * sxy.sxy - mi.s * mj.s AS cnum
           FROM sxy
           JOIN marg mi ON mi.d = sxy.i
           JOIN marg mj ON mj.d = sxy.j
           CROSS JOIN nn),
    c AS (SELECT i - 1 AS i, j - 1 AS j, cnum FROM ut
          UNION ALL
          SELECT j - 1, i - 1, cnum FROM ut WHERE i <> j)"""


def _pca_iter_ctes() -> str:
    """v0 = 1000 per dim; each iteration: w = C v, then max-abs
    renormalize back to x1000 (// in DuckDB truncates toward zero,
    matching Spark DIV and the driver-side tdiv)."""
    parts = ["v0 AS (SELECT UNNEST(range(0, %d)) AS d, 1000 AS v)"
             % _COV_DIM]
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        parts.append(
            f"it{k} AS (SELECT c.i AS d, SUM(c.cnum * {prev}.v) AS w "
            f"FROM c JOIN {prev} ON {prev}.d = c.j GROUP BY c.i), "
            f"m{k} AS (SELECT MAX(ABS(w)) AS m FROM it{k}), "
            f"v{k} AS (SELECT d, w * 1000 // m AS v FROM it{k}, m{k})"
        )
        prev = f"v{k}"
    return ", ".join(parts), prev


_PCA_CTES, _PCA_LAST = _pca_iter_ctes()


@_q(
    "embed_pca_power",
    f"""{_pca_cov_cte()},
    {_PCA_CTES}
    SELECT CAST(d AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_x1000
    FROM {_PCA_LAST} ORDER BY dim""",
)
def embed_pca_power(spark, sf_dir):
    """Top principal component by {_PCA_ITERS}-step power iteration over
    the EXACT integer covariance (the embed_covariance moment pass):
    v0 = all-ones, each step multiplies by the covariance numerator
    matrix and renormalizes to x1000 by the max-abs component with
    truncating division — every operation is int64-exact, so Spark and
    DuckDB produce the same vector bit-for-bit, independent of partition
    count. The dominant direction is the whitening axis, the
    dimension-collapse monitor (anisotropy: one direction swallowing the
    space), and the drift axis embed_drift's centroid shift projects
    onto.

    100 TB shape: the corpus is touched by ONE Arrow-batched pass (the
    shared _embed_moments Gram; each batch ships only its dim^2 partial);
    the iteration itself runs on the driver over the dim x dim integer
    matrix — the MLlib model-on-driver discipline (a few KB; the corpus
    never rides the driver), exactly like embed_kmeans' centroids. At
    1e9+ rows rescale the moments before iterating to keep products in
    int64 — the shape is unchanged.

    Reference analog: none (embedding addendum; consumes
    embed_covariance's moments, feeds whitening/anisotropy audits)."""
    tot = _embed_moments(spark, sf_dir)
    rows = tot.collect()  # O(dim^2) ints — model-sized, never corpus-sized
    n = 0
    s = [0] * _COV_DIM
    sxy = {}
    for r in rows:
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            sxy[(r["i"], r["j"])] = r["v"]
    c = [[0] * _COV_DIM for _ in range(_COV_DIM)]
    for (i, j), v in sxy.items():
        cnum = n * v - s[i] * s[j]
        c[i][j] = cnum
        c[j][i] = cnum

    def tdiv(a: int, b: int) -> int:
        # truncate toward zero (Spark DIV / DuckDB // semantics); numpy's
        # floor-div would disagree on negative components
        q = abs(a) // b
        return q if a >= 0 else -q

    v = [1000] * _COV_DIM
    for _ in range(_PCA_ITERS):
        w = [sum(c[i][j] * v[j] for j in range(_COV_DIM))
             for i in range(_COV_DIM)]
        m = max(abs(x) for x in w)
        v = [tdiv(x * 1000, m) for x in w]
    return spark.createDataFrame(
        [(d, v[d]) for d in range(_COV_DIM)], "dim bigint, v_x1000 bigint"
    )


_MKV_ITERS = 3


def _mkv_iter_ctes() -> tuple[str, str]:
    """Chained power-iteration CTEs over the transition counts: p0 is
    uniform x1e6 over the states; each step routes mass along
    (pi_i * c_ij) // r_i (term-level truncating division — identical to
    the driver-side Python arithmetic), keeps mass in place for states
    with no outgoing transitions, then renormalizes to sum 1e6."""
    parts = [
        "st AS (SELECT from_type AS s FROM t UNION SELECT to_type FROM t)",
        "ns AS (SELECT COUNT(*) AS n FROM st)",
        "p0 AS (SELECT s, 1000000 // ns.n AS v FROM st, ns)",
    ]
    prev = "p0"
    for k in range(1, _MKV_ITERS + 1):
        parts.append(
            f"m{k} AS ("
            f"SELECT t.to_type AS s, SUM(({prev}.v * t.n) // r.row_n) AS v "
            f"FROM t JOIN {prev} ON {prev}.s = t.from_type "
            f"JOIN r ON r.from_type = t.from_type GROUP BY t.to_type "
            f"UNION ALL "
            f"SELECT {prev}.s, {prev}.v FROM {prev} "
            f"WHERE {prev}.s NOT IN (SELECT from_type FROM r)), "
            f"g{k} AS (SELECT s, SUM(v) AS v FROM m{k} GROUP BY s), "
            f"z{k} AS (SELECT SUM(v) AS tot FROM g{k}), "
            f"p{k} AS (SELECT s, v * 1000000 // z{k}.tot AS v "
            f"FROM g{k}, z{k})"
        )
        prev = f"p{k}"
    return ", ".join(parts), prev


_MKV_CTES, _MKV_LAST = _mkv_iter_ctes()


@_q(
    "events_markov_stationary",
    f"""{_MKV_T_CTE},
    r AS (SELECT from_type, SUM(n) AS row_n FROM t GROUP BY from_type),
    {_MKV_CTES}
    SELECT s AS event_type, CAST(v AS BIGINT) AS pi_x1e6
    FROM {_MKV_LAST} ORDER BY event_type""",
)
def events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the behavioral Markov chain: the
    long-run share of time a user spends in each event state, by
    {_MKV_ITERS} power-iteration steps over events_markov_transitions'
    count matrix — the equilibrium the funnel drifts toward, and the
    baseline occupancy that turns a raw state count into an
    over/under-representation signal. All arithmetic is integer-exact
    (term-level truncating division, renormalize to 1e6), so both
    engines produce the same vector bit-for-bit; states with no
    outgoing transitions keep their mass (self-loop convention,
    applied identically in the twin).

    100 TB shape: the corpus is touched by ONE user-keyed window pass +
    one map-side-combinable pair count (the events_markov_transitions
    scan shape); what iterates is the grammar-sized |types|^2 count
    matrix ON THE DRIVER (model-on-driver discipline, like
    embed_pca_power / embed_kmeans) — nothing corpus-sized rides the
    driver or re-shuffles per step.

    Reference analog: none (events addendum; closes the Markov family:
    transitions = the model, stationary = its equilibrium readout)."""
    cells = _transition_counts(spark, sf_dir).collect()  # |types|^2 — model
    states, _, _, pi = _markov_power(cells)
    return spark.createDataFrame(
        sorted(zip(states, pi)), "event_type string, pi_x1e6 bigint"
    )


@_q(
    "mm_phash_dedup",
    """WITH b AS (SELECT doc_id, upper(hex(encode(text))) AS h
                  FROM documents WHERE octet_length(encode(text)) > 0),
    d AS (SELECT doc_id, h, UNNEST(range(0, 16)) AS i FROM b),
    c AS (SELECT doc_id, i, length(h) AS tot,
                 length(h) - length(replace(h,
                   substr('0123456789ABCDEF', CAST(i AS INT) + 1, 1), ''))
                   AS cnt
          FROM d),
    ph AS (SELECT doc_id,
                  SUM(CASE WHEN cnt * 16 > tot
                           THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS phash
           FROM c GROUP BY doc_id),
    g AS (SELECT phash, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
          FROM ph GROUP BY phash)
    SELECT CAST(phash AS BIGINT) AS phash,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(first_doc AS BIGINT) AS first_doc
    FROM g WHERE n_docs >= 2
    ORDER BY n_docs DESC, phash ASC LIMIT 20""",
)
def mm_phash_dedup(spark, sf_dir):
    """Perceptual-style near-dup bucketing for opaque media payloads: a
    16-bit average-hash over each blob's nibble histogram (the aHash
    thresholding rule on the byte distribution — no decoder needed),
    then bucket-and-count: buckets holding >= 2 blobs are the dedup
    candidate groups, keep-earliest canonical per bucket. This is the
    media-side analog of the text near-dup stack (a real pipeline swaps
    the histogram hash for a pixel/spectrogram pHash at the SAME seam —
    the bucketing, canonical-selection, and scale shape are unchanged).

    100 TB shape: the fingerprint is one Arrow-batched narrow pass
    (O(bytes) per blob, 16-bit output); bucketing is a
    map-side-combinable groupBy on a 65536-ary key — no pair join
    anywhere, the candidate-group census costs one shuffle of
    (doc, 2-byte hash) rows; top-20 = TakeOrderedAndProject.

    Reference analog: none (multimodal addendum; extends the mm_* family
    from routing features to dedup semantics)."""
    from ..functions.multimodal import phash_stage

    docs = _fan_out(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return (
        phash_stage(docs)
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            F.col("phash").cast("bigint").alias("phash"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("first_doc").cast("bigint").alias("first_doc"),
        )
        .orderBy(F.desc("n_docs"), F.asc("phash"))
        .limit(20)
    )


@_q(
    "events_cusum",
    """WITH d AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_n,
             COUNT(*) AS c
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, day_n),
    t AS (SELECT event_type, COUNT(*) AS nd, SUM(c) AS tot
          FROM d GROUP BY event_type),
    s AS (SELECT d.event_type, d.day_n,
                 SUM(d.c * t.nd - t.tot)
                   OVER (PARTITION BY d.event_type ORDER BY d.day_n) AS s
          FROM d JOIN t ON t.event_type = d.event_type),
    r AS (SELECT s.event_type, s.day_n, ABS(s.s) AS sa,
                 ROW_NUMBER() OVER (PARTITION BY s.event_type
                                    ORDER BY ABS(s.s) DESC, s.day_n ASC)
                   AS rn
          FROM s)
    SELECT r.event_type,
           CAST(t.nd AS BIGINT) AS n_days,
           CAST(t.tot AS BIGINT) AS total,
           CAST(r.day_n AS BIGINT) AS cp_day,
           CAST(r.sa AS BIGINT) AS s_abs_max
    FROM r JOIN t ON t.event_type = r.event_type
    WHERE r.rn = 1 ORDER BY r.event_type""",
)
def events_cusum(spark, sf_dir):
    """CUSUM changepoint detection on per-type daily volumes: the
    cumulative sum of (scaled) deviations from the type's mean daily
    count, and the day where |S| peaks — the classic level-shift locator
    (Page 1954) behind "when did this event's rate actually change",
    sharper than events_anomaly's pointwise z-scores for sustained
    shifts. Deviations are scaled by n_days (c*D - T) so every S is an
    exact integer — no float mean, both engines agree bit-for-bit; ties
    resolve to the earliest day.

    100 TB shape: ONE map-side-combinable (type, day) count is the only
    event-scale pass; the CUSUM window and the argmax ranking run over
    the days x types table (|days|*|types| rows). Output is |types|
    rows.

    Reference analog: none (events addendum; monitoring family with
    events_anomaly / events_forecast_eval / events_rate_ci)."""
    from pyspark.sql import Window

    d = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL")
        .groupBy(
            "event_type",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
            ).alias("day_n"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("c").alias("tot")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day_n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = d.join(t, "event_type").select(
        "event_type",
        "day_n",
        "nd",
        "tot",
        F.sum(F.col("c") * F.col("nd") - F.col("tot"))
        .over(w_cum)
        .alias("s"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s"))), F.asc("day_n")
    )
    return (
        s.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("nd").cast("bigint").alias("n_days"),
            F.col("tot").cast("bigint").alias("total"),
            F.col("day_n").cast("bigint").alias("cp_day"),
            F.abs(F.col("s")).cast("bigint").alias("s_abs_max"),
        )
        .orderBy("event_type")
    )


@_q(
    "text_source_overlap",
    f"""{_TOKS_CTE},
    v AS (SELECT DISTINCT d.source, t.term
          FROM toks t JOIN documents d ON d.doc_id = t.doc_id),
    sz AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
    inter AS (SELECT a.source AS src_a, b.source AS src_b,
                     COUNT(*) AS n_shared
              FROM v a JOIN v b
                ON a.term = b.term AND a.source < b.source
              GROUP BY a.source, b.source)
    SELECT i.src_a, i.src_b,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(i.n_shared * 1000000 // (sa.n + sb.n - i.n_shared)
                AS BIGINT) AS jaccard_x1e6
    FROM inter i
    JOIN sz sa ON sa.source = i.src_a
    JOIN sz sb ON sb.source = i.src_b
    ORDER BY src_a, src_b""",
)
def text_source_overlap(spark, sf_dir):
    """Cross-source vocabulary overlap: pairwise Jaccard of the distinct
    token vocabularies of every source pair — the integer-exact domain-
    shift gauge behind mixture decisions (two sources with near-identical
    vocabularies are redundant in a sampling mix; a near-zero overlap
    flags a domain the dedup stack can't bridge). Complements
    sample_mixture / curate_rho, which weigh sources but never measure
    their lexical distance.

    100 TB shape: the corpus-scale pass is one tokenize + DISTINCT
    (source, term) projection (vocabulary-sized output, not corpus-
    sized); the pair intersection joins on term with fan-out bounded by
    |sources| per term, and everything after is |sources|^2 rows.

    Reference analog: none (text addendum; corpus-diagnostics family
    with text_zipf / text_novelty)."""
    docs = _t(spark, sf_dir, "documents")
    v = (
        _tokens(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "term")
        .distinct()
        .localCheckpoint(eager=True)  # feeds sizes + both join sides
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "term")
    b = v.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr(
                "CAST(n_shared * 1000000 DIV (na + nb - n_shared)"
                " AS BIGINT)"
            ).alias("jaccard_x1e6"),
        )
        .orderBy("src_a", "src_b")
    )


@_q(
    "lineitem_discount_revenue",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 10000)
                            AS BIGINT)) AS BIGINT) AS revenue_x10k
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24""",
)
def lineitem_discount_revenue(spark, sf_dir):
    """TPC-H Q6-shaped forecast-revenue change: the what-if aggregate over
    a date window + discount band + quantity cap. The whole query is a
    single filtered scan with a 1-row global aggregate — its entire value
    at 100 TB is WHERE the predicates execute: all three must reach the
    parquet scan as pushed filters (row-group statistics then skip most
    of the table before a byte decompresses), and the product rounds to
    a per-row scaled BIGINT before summation so partial-agg order can't
    flip a hash bit.

    Reference analog: none (TPC-H family; the minimal pushdown-or-bust
    probe next to orders_topk_revenue's join shape)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * F.col("l_discount") * 10000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_x10k"),
        )
    )


@_q(
    "part_brand_disjunctive_revenue",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)) AS BIGINT)
                AS revenue_x10k
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)""",
)
def part_brand_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive-predicate revenue: an OR of three
    (brand, size-band, quantity-band) conjuncts across the part/lineitem
    join — the classic optimizer probe for DISJUNCTION handling. The
    single-table prefixes of the OR must still prune both scans (Catalyst
    extracts the common l_quantity range and the p_brand IN-set as
    pushable residuals), and the join stays a plain partkey equi-join
    with the disjunction evaluated as a post-join filter — never a
    fallback to a nested-loop over the OR arms.

    Reference analog: none (TPC-H family; the pushdown stress next to
    supplier_nation_revenue's join-order stress)."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .where(arm)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                    * 10000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_x10k"),
        )
    )


@_q(
    "nation_trade_volume",
    """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
              CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                  * 10000) AS BIGINT)) AS BIGINT)
                AS volume_x10k
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY ns.n_name, nc.n_name
    ORDER BY volume_x10k DESC, supp_nation ASC, cust_nation ASC
    LIMIT 25""",
)
def nation_trade_volume(spark, sf_dir):
    """TPC-H Q7-shaped bilateral trade volume: cross-nation shipping value
    per (supplier nation, customer nation) pair inside one order year —
    the snowflake join whose output is the nation-pair matrix. The
    nation dim joins are CONSTANT-bounded (25 rows — the one place a
    forced broadcast is always right); supplier/customer are unbounded
    dims left to AQE; the fact-side orders join keys on orderkey
    (co-located under the fact table's natural bucketing) with the date
    window pushed to the orders scan. Top-25 of a 600-cell result is
    TakeOrderedAndProject.

    Reference analog: none (TPC-H family; the bilateral rollup next to
    supplier_nation_revenue's single-sided Q5 shape)."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("s_nationkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    nc = F.broadcast(
        nat.select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(ns, "s_nationkey")
        .join(nc, "c_nationkey")
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                    * 10000
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("volume_x10k"),
        )
        .orderBy(
            F.desc("volume_x10k"),
            F.asc("supp_nation"),
            F.asc("cust_nation"),
        )
        .limit(25)
    )


@_q(
    "events_cuped",
    """WITH ev AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day_n
      FROM events WHERE user_id IS NOT NULL),
    anchor AS (SELECT MIN(day_n) + 15 AS split FROM ev),
    u AS (SELECT user_id,
                 SUM(CASE WHEN day_n < (SELECT split FROM anchor)
                          THEN 1 ELSE 0 END) AS x,
                 SUM(CASE WHEN day_n >= (SELECT split FROM anchor)
                          AND event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS y
          FROM ev GROUP BY user_id),
    m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy,
                 SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
                 SUM(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS sx_a,
                 SUM(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS sy_a,
                 SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
                 SUM(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS sx_b,
                 SUM(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS sy_b
          FROM u),
    th AS (SELECT m.*,
                  CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN 0
                       ELSE (m.n * m.sxy - m.sx * m.sy) * 1000000
                            // (m.n * m.sxx - m.sx * m.sx) END AS theta
           FROM m)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(theta AS BIGINT) AS theta_x1e6,
           CAST(sy_a * 1000000 // n_a AS BIGINT) AS mean_y_a_x1e6,
           CAST(sy_b * 1000000 // n_b AS BIGINT) AS mean_y_b_x1e6,
           CAST(sy_a * 1000000 // n_a
                - theta * ((sx_a * n - sx * n_a) * 1000000 // (n_a * n))
                  // 1000000 AS BIGINT) AS adj_y_a_x1e6,
           CAST(sy_b * 1000000 // n_b
                - theta * ((sx_b * n - sx * n_b) * 1000000 // (n_b * n))
                  // 1000000 AS BIGINT) AS adj_y_b_x1e6
    FROM th""",
)
def events_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): the
    post-period purchase metric per arm, adjusted by the pre-period
    activity covariate — theta = cov(x,y)/var(x) from pooled exact
    moments, adjusted mean = mean(y_arm) - theta*(mean(x_arm) -
    mean(x)). The adjustment removes the between-user variance the
    covariate explains, which is how real experimentation platforms
    double their effective sample size without running longer. Every
    moment is an exact int64 sum and the derived quantities are fixed
    integer-division expressions — bit-identical on both engines.

    100 TB shape: ONE map-side-combinable groupBy(user) (the stream's
    native key) collapses the corpus; the moment rollup is a single-row
    aggregate; the pre/post split anchor is a 1-row scalar. Nothing
    else.

    Reference analog: none (events addendum; upgrades events_abtest's
    raw-rate readout with the standard variance-reduction layer)."""
    ev = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "user_id",
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
        ).alias("day_n"),
    )
    anchor = ev.agg((F.min("day_n") + 15).alias("split"))
    u = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.col("day_n") < F.col("split")).cast("long")
            ).alias("x"),
            F.sum(
                (
                    (F.col("day_n") >= F.col("split"))
                    & (F.col("event_type") == "purchase")
                ).cast("long")
            ).alias("y"),
        )
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("x")).otherwise(0)).alias("sx_a"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("y")).otherwise(0)).alias("sy_a"),
        F.sum((F.col("user_id") % 2 == 1).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("x")).otherwise(0)).alias("sx_b"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("y")).otherwise(0)).alias("sy_b"),
    )
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            " ELSE (n * sxy - sx * sy) * 1000000"
            " DIV (n * sxx - sx * sx) END AS BIGINT)"
        ).alias("theta_x1e6"),
        F.expr("CAST(sy_a * 1000000 DIV n_a AS BIGINT)").alias(
            "mean_y_a_x1e6"
        ),
        F.expr("CAST(sy_b * 1000000 DIV n_b AS BIGINT)").alias(
            "mean_y_b_x1e6"
        ),
        F.expr(
            "CAST(sy_a * 1000000 DIV n_a"
            " - (CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            "    ELSE (n * sxy - sx * sy) * 1000000"
            "    DIV (n * sxx - sx * sx) END)"
            "   * ((sx_a * n - sx * n_a) * 1000000 DIV (n_a * n))"
            "   DIV 1000000 AS BIGINT)"
        ).alias("adj_y_a_x1e6"),
        F.expr(
            "CAST(sy_b * 1000000 DIV n_b"
            " - (CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            "    ELSE (n * sxy - sx * sy) * 1000000"
            "    DIV (n * sxx - sx * sx) END)"
            "   * ((sx_b * n - sx * n_b) * 1000000 DIV (n_b * n))"
            "   DIV 1000000 AS BIGINT)"
        ).alias("adj_y_b_x1e6"),
    )


@_q(
    "events_srm",
    """WITH u AS (SELECT DISTINCT user_id FROM events
                  WHERE user_id IS NOT NULL),
    t AS (SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
                 SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
          FROM u)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
                AS BIGINT) AS chi2_x1e6,
           CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000000
                          // (n_a + n_b) >= 3841459 THEN 1 ELSE 0 END
                AS BIGINT) AS srm_flag
    FROM t""",
)
def events_srm(spark, sf_dir):
    """Sample-ratio-mismatch check (the experimentation trust gate): arm
    sizes under the 50/50 parity assignment, the 1-dof chi-square
    (n_a-n_b)^2/(n_a+n_b), and the p<.05 flag (3.841459 cutoff). An SRM
    firing means the assignment, logging, or bot filtering is biased and
    every downstream readout (events_abtest, events_cuped) is suspect —
    platforms run exactly this gate before showing any experiment
    result. Integer-exact throughout.

    100 TB shape: one DISTINCT on the stream's native user key (the
    partial/merge pair), then a single-row rollup.

    Reference analog: none (events addendum; the trust gate in the
    experimentation family)."""
    u = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL")
        .select("user_id")
        .distinct()
    )
    t = u.agg(
        F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("n_a"),
        F.sum((F.col("user_id") % 2 == 1).cast("long")).alias("n_b"),
    )
    return t.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((n_a - n_b) * (n_a - n_b) * 1000000 DIV (n_a + n_b)"
            " AS BIGINT)"
        ).alias("chi2_x1e6"),
        F.expr(
            "CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000000"
            " DIV (n_a + n_b) >= 3841459 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_flag"),
    )


@_q(
    "text_fertility",
    r"""WITH d AS (
      SELECT lang,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe,
             len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_words
      FROM documents WHERE text IS NOT NULL)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_bpe) * 1000 // SUM(n_words) AS BIGINT)
             AS fertility_x1000
    FROM d GROUP BY lang ORDER BY lang""",
)
def text_fertility(spark, sf_dir):
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (x1000) — THE tokenizer-equity metric in multilingual LLM work
    (a language with 2-3x the fertility of English pays 2-3x the compute
    and context budget per sentence; fertility skew drives vocabulary
    re-allocation before a multilingual run). Uses the same token rule
    text_token_bpe applies, rolled up per lang.

    100 TB shape: both counts are array-length expressions fused into
    the scan (regexp + split HOFs, JVM-side, no explode anywhere); the
    only shuffle is the |langs|-row map-side-combinable rollup.

    Reference analog: none (text addendum; the per-language readout over
    text_token_bpe's per-doc counts, tokenizer-efficiency leg of the
    multilingual family with text_langid / kg_graph_lang_stats)."""
    docs = _t(spark, sf_dir, "documents").where("text IS NOT NULL")
    toks = F.expr(
        r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"
    )
    words = F.filter(F.split("text", " "), lambda t: t != "")
    return (
        docs.select(
            "lang",
            F.size(toks).alias("n_bpe"),
            F.size(words).alias("n_words"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.expr(
                "CAST(n_bpe_tokens * 1000 DIV n_words AS BIGINT)"
            ).alias("fertility_x1000"),
        )
        .orderBy("lang")
    )


_PROX_A, _PROX_B = "hash", "join"  # proximity needle pair
_PROX_WIN = 10  # max token distance


@_q(
    "kg_search_proximity",
    f"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
    pos AS (SELECT doc_id, toks[i] AS term, i
            FROM s0, LATERAL (SELECT UNNEST(generate_series(1, len(toks)))
                              AS i) g
            WHERE toks[i] IN ('{_PROX_A}', '{_PROX_B}')),
    pa AS (SELECT doc_id, i FROM pos WHERE term = '{_PROX_A}'),
    pb AS (SELECT doc_id, i FROM pos WHERE term = '{_PROX_B}'),
    d AS (SELECT pa.doc_id, MIN(ABS(pa.i - pb.i)) AS min_dist
          FROM pa JOIN pb ON pb.doc_id = pa.doc_id
          GROUP BY pa.doc_id)
    SELECT doc_id, CAST(min_dist AS BIGINT) AS min_dist
    FROM d WHERE min_dist <= {_PROX_WIN}
    ORDER BY min_dist ASC, doc_id ASC LIMIT 20""",
)
def kg_search_proximity(spark, sf_dir):
    """Proximity search (the Lucene span-near / SQL NEAR operator): docs
    where '{_PROX_A}' and '{_PROX_B}' co-occur within {_PROX_WIN} tokens,
    ranked by the minimum token distance — the relevance signal between
    bag-of-words AND (kg_search_content: same doc, any distance) and
    exact phrase match (distance 1). Near co-occurrence is the standard
    evidence gate for relation extraction review: entities mentioned 3
    tokens apart are far likelier related than 300.

    100 TB shape: position extraction runs INSIDE array HOFs on the scan
    — only the needles' positions ever become rows (two dictionary terms,
    not the corpus token stream); the per-doc min-distance is computed by
    an array-HOF cross of the two bounded position lists, so there is NO
    explode and NO join in the plan at all; top-20 =
    TakeOrderedAndProject.

    Reference analog: the Lucene index's span queries
    (graph_builder.py:81-85 gives Neo4j fulltext NEAR via Lucene syntax);
    completes the search family: content/regex/scored/tfidf/stem/fuzzy/
    phrase-proximity."""
    docs = _fan_out(_t(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    pos_of = lambda term: _let(  # noqa: E731
        toks,
        lambda t: F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(t)),
                lambda i: F.when(
                    F.element_at(t, i) == term, i
                ).otherwise(F.lit(None)),
            ),
            lambda x: x.isNotNull(),
        ),
    )
    d = docs.select(
        "doc_id",
        pos_of(_PROX_A).alias("pa"),
        pos_of(_PROX_B).alias("pb"),
    ).where((F.size("pa") > 0) & (F.size("pb") > 0))
    # min pairwise |pa_i - pb_j| via nested HOF reduce over the two
    # bounded position arrays — no explode, no join
    min_dist = F.aggregate(
        F.flatten(
            F.transform(
                "pa",
                lambda a: F.transform("pb", lambda b: F.abs(a - b)),
            )
        ),
        F.lit(2_147_483_647),
        lambda acc, x: F.least(acc, x),
    )
    return (
        d.select("doc_id", min_dist.cast("bigint").alias("min_dist"))
        .where(F.col("min_dist") <= _PROX_WIN)
        .orderBy(F.asc("min_dist"), F.asc("doc_id"))
        .limit(20)
    )


@_q(
    "events_seasonality",
    """WITH e AS (
      SELECT event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7
                  AS BIGINT) AS dow
      FROM events WHERE user_id IS NOT NULL),
    c AS (SELECT event_type, dow, COUNT(*) AS n
          FROM e GROUP BY event_type, dow),
    t AS (SELECT event_type, SUM(n) AS tot, COUNT(*) AS n_dows
          FROM c GROUP BY event_type),
    x AS (SELECT c.event_type,
                 SUM((7 * c.n - t.tot) * (7 * c.n - t.tot)) AS dev2,
                 MAX(t.tot) AS tot
          FROM c JOIN t ON t.event_type = c.event_type
          GROUP BY c.event_type)
    SELECT x.event_type,
           CAST(x.tot AS BIGINT) AS total,
           CAST(x.dev2 * 1000000 // (7 * 7 * x.tot) AS BIGINT)
             AS chi2_x1e6,
           CAST(CASE WHEN x.dev2 * 1000000 // (7 * 7 * x.tot) >= 12591587
                     THEN 1 ELSE 0 END AS BIGINT) AS seasonal_flag
    FROM x ORDER BY event_type""",
)
def events_seasonality(spark, sf_dir):
    """Day-of-week seasonality test per event type: the 6-dof chi-square
    of the weekday profile against uniformity (expected tot/7 per
    weekday; p<.05 cutoff 12.591587), integer-exact via the scaled
    deviation (7n - tot) so both engines agree bit-for-bit. A seasonal
    flag means the forecast baseline must be the weekly seasonal-naive
    (events_forecast_eval's model), not a flat mean — and that weekday
    must be a feature in any rate-anomaly threshold (events_anomaly).

    100 TB shape: one map-side-combinable (type, dow) count (14-168
    cells) is the only corpus pass; everything after is |types| rows
    with a 7-row-per-type rollup.

    Reference analog: none (events addendum; monitoring family with
    events_cusum / events_forecast_eval)."""
    e = _t(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        "event_type",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 % 7"
            " AS BIGINT)"
        ).alias("dow"),
    )
    c = e.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_dows")
    )
    x = (
        c.join(t, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.lit(7) * F.col("n") - F.col("tot"))
                * (F.lit(7) * F.col("n") - F.col("tot"))
            ).alias("dev2"),
            F.max("tot").alias("tot"),
        )
    )
    return x.select(
        "event_type",
        F.col("tot").cast("bigint").alias("total"),
        F.expr(
            "CAST(dev2 * 1000000 DIV (7 * 7 * tot) AS BIGINT)"
        ).alias("chi2_x1e6"),
        F.expr(
            "CAST(CASE WHEN dev2 * 1000000 DIV (7 * 7 * tot) >= 12591587"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("seasonal_flag"),
    ).orderBy("event_type")


@_q(
    "text_heaps_law",
    f"""{_TOKS_CTE},
    mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    dec AS (SELECT UNNEST(range(1, 11)) AS k),
    bounds AS (SELECT k, (SELECT m FROM mx) * k // 10 AS bound FROM dec),
    first_occ AS (SELECT term, MIN(doc_id) AS d0 FROM toks GROUP BY term),
    doc_n AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    growth AS (SELECT b.k, b.bound,
                      (SELECT COALESCE(SUM(n), 0) FROM doc_n
                       WHERE doc_id < b.bound) AS n_tokens,
                      (SELECT COUNT(*) FROM first_occ
                       WHERE d0 < b.bound) AS vocab
               FROM bounds b),
    fit AS (SELECT COUNT(*) AS np, SUM(ln(n_tokens)) AS sx,
                   SUM(ln(vocab)) AS sy,
                   SUM(ln(n_tokens) * ln(n_tokens)) AS sxx,
                   SUM(ln(n_tokens) * ln(vocab)) AS sxy
            FROM growth WHERE n_tokens > 0 AND vocab > 0)
    SELECT CAST(g.k AS BIGINT) AS decile,
           CAST(g.n_tokens AS BIGINT) AS n_tokens,
           CAST(g.vocab AS BIGINT) AS vocab,
           CAST(ROUND((f.np * f.sxy - f.sx * f.sy)
                      / (f.np * f.sxx - f.sx * f.sx) * 1000) AS BIGINT)
             AS beta_x1000
    FROM growth g CROSS JOIN fit f
    WHERE g.n_tokens > 0
    ORDER BY decile""",
)
def text_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary growth: distinct-term count at 10 crawl-order
    corpus prefixes (doc_id deciles) with the fitted growth exponent beta
    (log-log least squares over the 10 points; V ~ K*N^beta, typically
    0.4-0.6 for natural text). The curve answers the curation question
    "is more crawl still buying new vocabulary, or only repetition" — a
    flattening curve (small beta) says the marginal crawl is duplicate
    mass the dedup stack should be catching; the deviation from the
    corpus's own fitted line localizes WHERE growth broke.

    100 TB shape: the corpus pass collapses to two dictionary/doc-sized
    tables — each term's FIRST occurrence (vocabulary-sized) and per-doc
    token counts — and the 10-prefix sweep is a broadcast compare
    against those reduced tables, never a re-scan per prefix. The beta
    fit sums 10 log terms (x1000 rounding puts libm noise out of
    reach).

    Reference analog: none (text addendum; corpus-diagnostics family
    with text_zipf — Zipf is the frequency-rank law, Heaps the
    vocabulary-growth law, and they are the two sides of the same
    power-law coin)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens(docs).localCheckpoint(eager=True)
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    dec = spark.createDataFrame([(k,) for k in range(1, 11)], "k int")
    bounds = (
        F.broadcast(dec)
        .crossJoin(F.broadcast(mx))
        .select("k", F.expr("m * k DIV 10").alias("bound"))
    )
    first_occ = toks.groupBy("term").agg(F.min("doc_id").alias("d0"))
    doc_n = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        first_occ.crossJoin(F.broadcast(bounds))
        .where(F.col("d0") < F.col("bound"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    ntok = (
        doc_n.crossJoin(F.broadcast(bounds))
        .where(F.col("doc_id") < F.col("bound"))
        .groupBy("k")
        .agg(F.sum("n").alias("n_tokens"))
    )
    growth = (
        vocab.join(ntok, "k")
        .where(F.col("n_tokens") > 0)
        .localCheckpoint(eager=True)  # feeds the fit + the output
    )
    fit = growth.where(F.col("vocab") > 0).agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(F.log("n_tokens")).alias("sx"),
        F.sum(F.log("vocab")).alias("sy"),
        F.sum(F.log("n_tokens") * F.log("n_tokens")).alias("sxx"),
        F.sum(F.log("n_tokens") * F.log("vocab")).alias("sxy"),
    )
    return (
        growth.crossJoin(F.broadcast(fit))
        .select(
            F.col("k").cast("bigint").alias("decile"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("vocab").cast("bigint").alias("vocab"),
            F.round(
                (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * 1000
            )
            .cast("bigint")
            .alias("beta_x1000"),
        )
        .orderBy("decile")
    )


@_q(
    "events_entropy_rate",
    f"""{_MKV_T_CTE},
    r AS (SELECT from_type, SUM(n) AS row_n FROM t GROUP BY from_type),
    {_MKV_CTES},
    hrow AS (SELECT t.from_type,
                    SUM(-(t.n * 1.0 / r.row_n)
                        * ln(t.n * 1.0 / r.row_n)) AS h
             FROM t JOIN r ON r.from_type = t.from_type
             GROUP BY t.from_type),
    rate AS (SELECT SUM(p.v * 1e-6 * hrow.h) AS hr,
                    COUNT(*) AS n_states
             FROM {_MKV_LAST} p JOIN hrow ON hrow.s = p.from_type)
    SELECT CAST(n_states AS BIGINT) AS n_states,
           CAST(ROUND(hr * 1e6) AS BIGINT) AS entropy_rate_x1e6
    FROM rate""".replace("hrow.s = p.from_type", "hrow.from_type = p.s"),
)
def events_entropy_rate(spark, sf_dir):
    """Entropy rate of the behavioral Markov chain (Shannon: H = sum_i
    pi_i * H(row_i), nats/event) — the compressibility of user behavior.
    Low entropy = scripted/deterministic sessions (the bot signature
    events_bot_flag rate-thresholds, measured information-theoretically
    instead); high entropy = diverse organic behavior. Uses the same
    3-step stationary distribution as events_markov_stationary, so the
    two queries share one definition of pi.

    100 TB shape: corpus cost is the one user-keyed window + pair count
    (shared shape with the Markov family); the entropy fold runs over
    the grammar-sized matrix (|types|^2 terms; x1e6 rounding of a
    25-term double sum is libm-noise-proof).

    Reference analog: none (events addendum; closes the Markov trio:
    transitions -> stationary -> entropy rate)."""
    cells = _transition_counts(spark, sf_dir).collect()  # |types|^2 — model
    states, c, r, pi = _markov_power(cells)
    k = len(states)
    import math

    hr = 0.0
    n_states = 0
    for i in range(k):
        if r[i] == 0:
            continue
        h = -sum(
            (c[i][j] / r[i]) * math.log(c[i][j] / r[i])
            for j in range(k)
            if c[i][j]
        )
        hr += pi[i] * 1e-6 * h
        n_states += 1
    return spark.createDataFrame(
        [(n_states, int(math.floor(hr * 1e6 + 0.5)))],
        "n_states bigint, entropy_rate_x1e6 bigint",
    )


_SURV_HORIZONS = (1, 3, 7, 14, 21, 29)  # lifetime thresholds in days


@_q(
    "events_survival",
    f"""WITH u AS (
      SELECT user_id,
             MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
             - MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
               AS lifetime_d
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    n AS (SELECT COUNT(*) AS n_users FROM u),
    hs AS (SELECT UNNEST(ARRAY{list(_SURV_HORIZONS)}) AS t)
    SELECT CAST(hs.t AS BIGINT) AS t_days,
           CAST(COUNT(u.user_id) AS BIGINT) AS n_surviving,
           CAST(COUNT(u.user_id) * 1000000 // n.n_users AS BIGINT)
             AS survival_ppm
    FROM hs CROSS JOIN n
    LEFT JOIN u ON u.lifetime_d >= hs.t
    GROUP BY hs.t, n.n_users ORDER BY t_days""",
)
def events_survival(spark, sf_dir):
    """User-lifetime survival curve: the fraction of users whose observed
    lifetime (last event day - first event day) reaches each horizon —
    the churn-analysis backbone that events_retention's fixed d1/d7
    checkpoints sample two points of. The curve's slope localizes WHEN
    users churn (a cliff at t=1 is an onboarding problem; a slow decay
    is natural attrition), which decides where the retention
    intervention budget goes.

    100 TB shape: one map-side-combinable groupBy(user) (min+max day)
    collapses the corpus to |users| rows; the horizon sweep is a
    broadcast nested-loop of the 6-row threshold table against that
    reduced table — one pass serves every horizon (the
    curate_dedup_sweep discipline).

    Reference analog: none (events addendum; completes the lifecycle
    family: retention checkpoints -> cohort matrix -> full survival
    curve)."""
    u = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(
            (
                F.expr(
                    "MAX(unix_micros(CAST(ts AS TIMESTAMP))"
                    " DIV 86400000000)"
                )
                - F.expr(
                    "MIN(unix_micros(CAST(ts AS TIMESTAMP))"
                    " DIV 86400000000)"
                )
            ).alias("lifetime_d")
        )
    )
    n = u.agg(F.count(F.lit(1)).alias("n_users"))
    hs = spark.createDataFrame(
        [(t,) for t in _SURV_HORIZONS], "t bigint"
    )
    return (
        F.broadcast(hs)
        .crossJoin(F.broadcast(n))
        .join(u, u["lifetime_d"] >= hs["t"], "left")
        .groupBy("t", "n_users")
        .agg(F.count("user_id").alias("n_surviving"))
        .select(
            F.col("t").cast("bigint").alias("t_days"),
            F.col("n_surviving").cast("bigint").alias("n_surviving"),
            F.expr(
                "CAST(n_surviving * 1000000 DIV n_users AS BIGINT)"
            ).alias("survival_ppm"),
        )
        .orderBy("t_days")
    )


@_q(
    "orders_basket_rules",
    """WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    no AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    pc AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
    pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     COUNT(*) AS c_ab
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2)
    SELECT p.part_a, p.part_b,
           CAST(p.c_ab AS BIGINT) AS n_orders,
           CAST(p.c_ab * 1000 // ca.c AS BIGINT) AS conf_a_to_b_x1000,
           CAST(p.c_ab * 1000 // cb.c AS BIGINT) AS conf_b_to_a_x1000,
           CAST(p.c_ab * no.n * 1000 // (ca.c * cb.c) AS BIGINT)
             AS lift_x1000
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN no
    WHERE p.c_ab >= 3
    ORDER BY lift_x1000 DESC, n_orders DESC, part_a ASC, part_b ASC
    LIMIT 30""",
)
def orders_basket_rules(spark, sf_dir):
    """Market-basket association rules over order line items (Agrawal
    1993): part pairs bought in the same order, scored by support,
    both-direction confidence, and lift (x1000 integer) — the
    recommendation baseline ('customers who bought A also bought B')
    and the classic a-priori first level, computed exactly at corpus
    scale without candidate generation.

    100 TB shape: the pair self-join is ORDER-keyed, so fan-out is
    bounded by per-order basket size (single-digit in TPC-H data, never
    corpus-scale); part-frequency dims glue back by part key; the
    support floor (>= 3 co-orders) keeps the pair table sparse; top-30
    = TakeOrderedAndProject.

    Reference analog: none (TPC-H family addendum; the association-
    mining sibling of kg_pred_cooccurrence's subject-level lift)."""
    items = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)  # feeds order count, part counts, pairs
    )
    no = items.agg(F.countDistinct("l_orderkey").alias("n"))
    pc = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(no))
        .select(
            "part_a",
            "part_b",
            F.col("c_ab").cast("bigint").alias("n_orders"),
            F.expr("CAST(c_ab * 1000 DIV ca AS BIGINT)").alias(
                "conf_a_to_b_x1000"
            ),
            F.expr("CAST(c_ab * 1000 DIV cb AS BIGINT)").alias(
                "conf_b_to_a_x1000"
            ),
            F.expr(
                "CAST(c_ab * n * 1000 DIV (ca * cb) AS BIGINT)"
            ).alias("lift_x1000"),
        )
        .orderBy(
            F.desc("lift_x1000"),
            F.desc("n_orders"),
            F.asc("part_a"),
            F.asc("part_b"),
        )
        .limit(30)
    )


@_q(
    "events_markov_acc",
    f"""{_MKV_T_CTE},
    pred AS (SELECT from_type, to_type AS pred_type FROM (
               SELECT from_type, to_type,
                      ROW_NUMBER() OVER (PARTITION BY from_type
                                         ORDER BY n DESC, to_type ASC)
                        AS rn
               FROM t) WHERE rn = 1),
    agg AS (SELECT SUM(t.n) AS n_total,
                   SUM(CASE WHEN t.to_type = p.pred_type
                            THEN t.n ELSE 0 END) AS n_hit
            FROM t JOIN pred p ON p.from_type = t.from_type)
    SELECT CAST(n_total AS BIGINT) AS n_transitions,
           CAST(n_hit AS BIGINT) AS n_correct,
           CAST(n_hit * 1000000 // n_total AS BIGINT) AS accuracy_ppm
    FROM agg""",
)
def events_markov_acc(spark, sf_dir):
    """Majority-class accuracy of the first-order Markov predictor: for
    each state, predict the most frequent next state (ties to the
    lexicographically first — identical in both engines) and score the
    hit rate over all observed transitions. This is the BASELINE every
    sequence model (the behavioral LSTM/transformer this pipeline's
    exports feed) must beat, and together with events_entropy_rate it
    brackets the predictability of the stream: entropy bounds what's
    achievable, this measures what the simplest model achieves.

    100 TB shape: corpus cost is the shared Markov scan (one user-keyed
    window + pair count); the argmax and scoring run over the grammar-
    sized matrix. One output row.

    Reference analog: none (events addendum; the eval leg of the Markov
    family — measure-your-operator discipline, like embed_ann_eval)."""
    from pyspark.sql import Window

    # feeds argmax + scoring
    t = _transition_counts(spark, sf_dir).localCheckpoint(eager=True)
    w_rank = Window.partitionBy("from_type").orderBy(
        F.desc("n"), F.asc("to_type")
    )
    pred = (
        t.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("pred_type"))
    )
    return (
        t.join(F.broadcast(pred), "from_type")
        .agg(
            F.sum("n").alias("n_total"),
            F.sum(
                F.when(
                    F.col("to_type") == F.col("pred_type"), F.col("n")
                ).otherwise(0)
            ).alias("n_hit"),
        )
        .select(
            F.col("n_total").cast("bigint").alias("n_transitions"),
            F.col("n_hit").cast("bigint").alias("n_correct"),
            F.expr(
                "CAST(n_hit * 1000000 DIV n_total AS BIGINT)"
            ).alias("accuracy_ppm"),
        )
    )


@_q(
    "text_lang_mixing",
    f"""{_TOKS_CTE},
    v AS (SELECT doc_id,
                 SUM(CASE WHEN term IN ('the', 'a', 'of') THEN 1 ELSE 0 END) AS en_hits,
                 SUM(CASE WHEN term IN ('der', 'die', 'und') THEN 1 ELSE 0 END) AS de_hits,
                 SUM(CASE WHEN term IN ('le', 'la', 'et') THEN 1 ELSE 0 END) AS fr_hits
          FROM toks GROUP BY doc_id),
    r AS (SELECT doc_id,
                 GREATEST(en_hits, de_hits, fr_hits) AS best,
                 en_hits + de_hits + fr_hits
                   - GREATEST(en_hits, de_hits, fr_hits)
                   - LEAST(en_hits, de_hits, fr_hits) AS second
          FROM v),
    c AS (SELECT doc_id, best, second,
                 CASE WHEN best > 0 AND second * 1000 // best >= 300
                      THEN 1 ELSE 0 END AS mixed
          FROM r)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN best = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unknown,
           CAST(SUM(mixed) AS BIGINT) AS n_mixed,
           CAST(SUM(mixed) * 1000000 // COUNT(*) AS BIGINT)
             AS mixed_ppm
    FROM c""",
)
def text_lang_mixing(spark, sf_dir):
    """Code-switching / mixed-language detection: documents whose
    SECOND-best stopword vote reaches 30% of the best vote are flagged
    mixed — the docs a one-label language-ID gate (text_langid) silently
    mislabels, which then leak the "wrong" language into a filtered
    monolingual corpus. The mixed rate is the error bar on every
    per-language corpus statistic downstream (fertility, lang_stats),
    and the routing trigger for a sentence-level splitter at the
    extraction stage. Integer-exact vote ratios.

    100 TB shape: the same single map-side-combinable vote aggregate as
    text_langid (the votes are computed once per doc at scan speed);
    the flag is a scan-fused projection and the rollup is ONE row.

    Reference analog: none (text addendum; the uncertainty readout over
    text_langid / text_langid_eval's point predictions)."""
    toks = _tokens(_t(spark, sf_dir, "documents"))
    hits = toks.groupBy("doc_id").agg(*_lang_hit_cols())
    r = hits.select(
        F.greatest("en_hits", "de_hits", "fr_hits").alias("best"),
        (
            F.col("en_hits")
            + F.col("de_hits")
            + F.col("fr_hits")
            - F.greatest("en_hits", "de_hits", "fr_hits")
            - F.least("en_hits", "de_hits", "fr_hits")
        ).alias("second"),
    )
    c = r.select(
        "best",
        F.expr(
            "CASE WHEN best > 0 AND second * 1000 DIV best >= 300"
            " THEN 1 ELSE 0 END"
        ).alias("mixed"),
    )
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("best") == 0).cast("long"))
        .cast("bigint")
        .alias("n_unknown"),
        F.sum("mixed").cast("bigint").alias("n_mixed"),
        F.expr(
            "CAST(SUM(mixed) * 1000000 DIV COUNT(*) AS BIGINT)"
        ).alias("mixed_ppm"),
    )


# Near-dup flag (dup: Jaccard >= 0.5, the later doc of each pair) beside
# the quality score q, for the curation audits that cross the two.
_DUP_QUAL_CTE = f"""{_SHINGLE_PAIRS_CTE},
    dup AS (SELECT DISTINCT p.doc_b AS doc_id FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.doc_a
            JOIN sizes sb ON sb.doc_id = p.doc_b
            WHERE p.n_shared >= 2
              AND p.n_shared * 1000000 // (sa.n + sb.n - p.n_shared)
                  >= 500000),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
    {_QUAL_CTE}"""


@_q(
    "curate_dup_quality_xtab",
    f"""{_DUP_QUAL_CTE},
    med AS (SELECT qual AS m FROM (
              SELECT qual, ROW_NUMBER() OVER (ORDER BY qual, doc_id) AS rn,
                     COUNT(*) OVER () AS n
              FROM q) WHERE rn = (n - 1) // 2 + 1),
    cell AS (SELECT q.doc_id,
                    CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END
                      AS is_dup,
                    CASE WHEN q.qual >= med.m THEN 1 ELSE 0 END AS hi_q
             FROM q LEFT JOIN dup ON dup.doc_id = q.doc_id CROSS JOIN med)
    SELECT CAST(is_dup AS BIGINT) AS is_dup,
           CAST(hi_q AS BIGINT) AS hi_quality,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM cell GROUP BY is_dup, hi_q ORDER BY is_dup, hi_quality""",
)
def curate_dup_quality_xtab(spark, sf_dir):
    """Duplication x quality contingency table: are near-duplicates
    disproportionately low-quality? The 2x2 cell counts (dup candidate
    at Jaccard >= 0.5 under keep-earliest x quality above/below the
    exact corpus median) decide FILTER ORDER in the curation chain: if
    dups concentrate in the low-quality half, the cheap quality gate
    before the expensive pair join shrinks the dedup input massively;
    if not, dedup must run first or it ships its mass into training.

    100 TB shape: composes the two existing corpus passes (capped
    shingle pair join; token quality aggregate) with a doc-keyed
    semi-structure join; the exact median comes from one rank-select
    over the |docs|-row quality table (quantile-bucket at true scale);
    output is 4 rows.

    Reference analog: none (curation addendum; the interaction readout
    between dedup_* and text_quality that curate_dedup_sweep and
    curate_calibration each see only one axis of)."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    dup = (
        ensure_shingle_pairs(spark, sf_dir)
        .where(F.col("jaccard_x1e6") >= 500000)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    toks = _tokens(docs)
    m = _moments(toks)
    q = m.select(
        "doc_id",
        F.expr(_QUAL_SQL).alias("qual"),
    ).localCheckpoint(eager=True)  # feeds the median rank AND the cells
    ranked = q.select(
        "qual",
        F.row_number()
        .over(Window.orderBy(F.asc("qual"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = ranked.where(
        F.col("rn") == F.expr("(n - 1) DIV 2 + 1")
    ).select(F.col("qual").alias("m"))
    return (
        q.join(F.broadcast(dup), "doc_id", "left")
        .crossJoin(F.broadcast(med))
        .select(
            F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
            (F.col("qual") >= F.col("m")).cast("int").alias("hi_q"),
        )
        .groupBy("is_dup", "hi_q")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("is_dup").cast("bigint").alias("is_dup"),
            F.col("hi_q").cast("bigint").alias("hi_quality"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("is_dup", "hi_quality")
    )


@_q(
    "dedup_minhash_calibration",
    f"""{_SHINGLE_PAIRS_CTE},
    jp AS (SELECT p.doc_a, p.doc_b,
                  p.n_shared * 1000000 // (sa.n + sb.n - p.n_shared)
                    AS j_x1e6
           FROM pairs p
           JOIN sizes sa ON sa.doc_id = p.doc_a
           JOIN sizes sb ON sb.doc_id = p.doc_b
           WHERE p.n_shared >= 2),
    agg AS (SELECT doc_id, list(shingle) AS shingles FROM sh
            GROUP BY doc_id),
    sig AS (SELECT doc_id, {_MINHASH_SQL_COLS} FROM agg),
    scored AS (SELECT jp.j_x1e6,
                      {" + ".join(f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(_N_MINHASH_Q))}
                        AS n_match
               FROM jp
               JOIN sig sa ON sa.doc_id = jp.doc_a
               JOIN sig sb ON sb.doc_id = jp.doc_b)
    SELECT CAST(n_match AS BIGINT) AS n_match,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_x1e6) // COUNT(*) AS BIGINT) AS mean_j_x1e6
    FROM scored GROUP BY n_match ORDER BY n_match""",
)
def dedup_minhash_calibration(spark, sf_dir):
    """MinHash estimator calibration: for every verified candidate pair,
    the number of agreeing minhash components (0-{_N_MINHASH_Q}) against
    the pair's TRUE capped-shingle Jaccard, bucketed by agreement count
    with the exact mean truth per bucket. E[matches]/k = J is the
    estimator's promise; this table shows where the 4-hash signature
    actually separates (the monotone mean-J ramp) and how much truth
    mass each LSH band-match level carries — the evidence behind the
    banding choice (b, r) that er_blocking_quality scores only the
    endpoint of.

    100 TB shape: composes the capped pair join (the shared truth leg)
    with the signature aggregate; the signature join keys on doc ids;
    output is {_N_MINHASH_Q + 1} rows. One shingle scan feeds both
    legs via the shared checkpoint.

    Reference analog: none (dedup addendum; the calibration readout
    between dedup_minhash_sig and er_blocking_quality)."""
    jp = ensure_shingle_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard_x1e6"
    )
    sig = ensure_minhash_sig(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(_N_MINHASH_Q)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(_N_MINHASH_Q)],
    )
    n_match = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int")
        for k in range(_N_MINHASH_Q)
    )
    return (
        jp.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            n_match.alias("n_match"), F.col("jaccard_x1e6").alias("j")
        )
        .groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("j").alias("sj"),
        )
        .select(
            F.col("n_match").cast("bigint").alias("n_match"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr("CAST(sj DIV n_pairs AS BIGINT)").alias(
                "mean_j_x1e6"
            ),
        )
        .orderBy("n_match")
    )


@_q(
    "curate_source_profile",
    f"""{_DUP_QUAL_CTE}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q.qual) * 1000 // COUNT(*) AS BIGINT)
             AS mean_quality_x1e6,
           CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
    FROM documents d
    JOIN q ON q.doc_id = d.doc_id
    LEFT JOIN dup ON dup.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source""",
)
def curate_source_profile(spark, sf_dir):
    """Per-source curation profile: document count, exact mean quality,
    and near-dup rate per source — THE input table for mixture design
    (sample_mixture / sample_temperature weigh sources; this table says
    what each source's mass is WORTH): a high-dup low-quality source
    gets down-weighted before sampling, not after training. Mean quality
    is the exact rational sum*1000/count (quality is already x1000, so
    the column is x1e6).

    100 TB shape: composes the shared quality aggregate and the capped
    dup leg with a source-keyed rollup — all joins on the table's
    native doc_id key, output |sources| rows.

    Reference analog: none (curation addendum; the per-source marginal
    of curate_dup_quality_xtab's global 2x2)."""
    docs = _t(spark, sf_dir, "documents")
    dup = (
        ensure_shingle_pairs(spark, sf_dir)
        .where(F.col("jaccard_x1e6") >= 500000)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    toks = _tokens(docs)
    m = _moments(toks)
    q = m.select(
        "doc_id",
        F.expr(_QUAL_SQL).alias("qual"),
    )
    return (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(F.broadcast(dup), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("qual").alias("sq"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("nd"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("CAST(sq * 1000 DIV n_docs AS BIGINT)").alias(
                "mean_quality_x1e6"
            ),
            F.expr("CAST(nd * 1000000 DIV n_docs AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


@_q(
    "embed_intrinsic_dim",
    """WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1000) AS BIGINT)) AS v
      FROM embeddings),
    prs AS (SELECT a.vec_id AS i,
                   list_sum(list_transform(range(1, len(a.v) + 1),
                     k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k]))) AS dsq
            FROM q a JOIN q b ON b.vec_id <> a.vec_id),
    nn AS (SELECT i, dsq,
                  ROW_NUMBER() OVER (PARTITION BY i ORDER BY dsq ASC)
                    AS rn
           FROM prs WHERE dsq > 0),
    two AS (SELECT i,
                   MAX(CASE WHEN rn = 1 THEN dsq END) AS r1sq,
                   MAX(CASE WHEN rn = 2 THEN dsq END) AS r2sq
            FROM nn WHERE rn <= 2 GROUP BY i
            HAVING MAX(CASE WHEN rn = 2 THEN dsq END) IS NOT NULL),
    agg AS (SELECT COUNT(*) AS n,
                   SUM(ln(r2sq * 1.0 / r1sq)) / 2 AS s
            FROM two)
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(ROUND(n / s * 1000) AS BIGINT) AS id_x1000
    FROM agg""",
)
def embed_intrinsic_dim(spark, sf_dir):
    """Intrinsic dimension by the Two-NN estimator (Facco et al. 2017):
    d = n / sum(ln(r2/r1)) over each point's two nearest neighbors —
    the honest answer to "how many of the 64 ambient dimensions does
    this embedding actually use". Low intrinsic dimension relative to
    ambient is the signal that PQ/binary compression (embed_pq,
    embed_binary_hamming) will be nearly lossless and that an IVF
    index needs few probes; a collapsed ID (~1-2) flags representation
    collapse before a retrieval eval would. Distances are EXACT int64
    (quantized components, squared-L2), so both engines agree on every
    neighbor rank; only the final 10-ish-nat log sum is float, rounded
    at x1000 where libm noise cannot reach.

    100 TB shape: the all-pairs two-NN runs as the block-matrix GEMM
    self-join (dedup_embed_cosine's discipline): each of the
    (B*(B+1))/2 block-pair tasks computes one exact int64 distance
    submatrix and emits only each point's LOCAL top-2 — shuffle volume
    is O(n*B) candidate rows, per-task memory two bounded blocks, no
    driver-side data of any size; the global top-2 per point is a
    map-side-combinable merge of the local candidates and the estimator
    itself is a 1-row aggregate.

    Reference analog: none (embedding addendum; the geometry diagnostic
    beside embed_covariance / embed_pca_power's moment view)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _block_two_nn(same, lhs, rhs):
        out_i, out_d = [], []

        def emit(ids_a, ids_b, dm):
            # per a-row local top-2 of positive distances to the b block
            for r, vid in enumerate(ids_a):
                row = dm[r]
                mask = (row > 0) & (ids_b != vid)
                vals = row[mask]
                if len(vals) == 0:
                    continue
                k = min(2, len(vals))
                top = np.partition(vals, k - 1)[:k]
                for t in top:
                    out_i.append(int(vid))
                    out_d.append(int(t))

        _block_dsq(same, lhs, rhs, emit)
        return pd.DataFrame(
            {
                "i": pd.Series(out_i, dtype="int64"),
                "dsq": pd.Series(out_d, dtype="int64"),
            }
        )

    cand = _block_pair_grid(spark, emb, _block_two_nn, "i long, dsq long")
    two = (
        cand.groupBy("i")
        .agg(F.array_sort(F.collect_list("dsq")).alias("ds"))
        .where(F.size("ds") >= 2)
        .select(
            F.element_at("ds", 1).alias("r1sq"),
            F.element_at("ds", 2).alias("r2sq"),
        )
    )
    return two.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.log(F.col("r2sq") / F.col("r1sq"))) / 2).alias("s"),
    ).select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(F.col("n") / F.col("s") * 1000)
        .cast("bigint")
        .alias("id_x1000"),
    )


_HUB_K = 5  # neighbor list length in the reverse-kNN hubness census


@_q(
    "embed_hubness",
    f"""WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1000) AS BIGINT)) AS v
      FROM embeddings),
    prs AS (SELECT a.vec_id AS i, b.vec_id AS j,
                   list_sum(list_transform(range(1, len(a.v) + 1),
                     k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k]))) AS dsq
            FROM q a JOIN q b ON b.vec_id <> a.vec_id),
    nn AS (SELECT i, j FROM (
             SELECT i, j,
                    ROW_NUMBER() OVER (PARTITION BY i
                                       ORDER BY dsq ASC, j ASC) AS rn
             FROM prs) WHERE rn <= {_HUB_K}),
    rev AS (SELECT j, COUNT(*) AS n_rev FROM nn GROUP BY j)
    SELECT j AS vec_id, CAST(n_rev AS BIGINT) AS n_rev
    FROM rev
    ORDER BY n_rev DESC, vec_id ASC LIMIT 10""",
)
def embed_hubness(spark, sf_dir):
    """Reverse-kNN hubness census (Radovanovic et al., JMLR 2010): the
    points that appear in the most other points' {_HUB_K}-NN lists. In
    high dimensions a few hub vectors contaminate EVERY retrieval list
    (n_rev >> k), silently dominating ANN results and nearest-neighbor
    dedup — this census names the hubs so retrieval evals exclude or
    down-weight them, and its top value vs k is the one-glance severity
    gauge (n_rev ~ k = healthy; 10k = pathological). Distances are the
    same exact int64 squared-L2 as embed_intrinsic_dim, ties broken by
    neighbor id, so both engines build identical NN lists.

    100 TB shape: the exact kNN runs as the block-matrix GEMM self-join
    (per block-pair task emits local top-{_HUB_K} with neighbor ids,
    O(n*B*k) candidate shuffle, distributive global merge); the reverse
    census is one map-side-combinable count on the neighbor id. Top-10
    = TakeOrderedAndProject.

    Reference analog: none (embedding addendum; with embed_intrinsic_dim
    the pair of geometry diagnostics run before trusting any ANN
    index)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def _block_knn(same, lhs, rhs):
        oi, oj, od = [], [], []

        def emit(ids_a, ids_b, dm):
            for r, vid in enumerate(ids_a):
                row = dm[r]
                mask = ids_b != vid
                vals, js = row[mask], ids_b[mask]
                if len(vals) == 0:
                    continue
                k = min(_HUB_K, len(vals))
                idx = np.argpartition(vals, k - 1)[:k]
                for t in idx:
                    oi.append(int(vid))
                    oj.append(int(js[t]))
                    od.append(int(vals[t]))

        _block_dsq(same, lhs, rhs, emit)
        return pd.DataFrame(
            {
                "i": pd.Series(oi, dtype="int64"),
                "j": pd.Series(oj, dtype="int64"),
                "dsq": pd.Series(od, dtype="int64"),
            }
        )

    cand = _block_pair_grid(spark, emb, _block_knn, "i long, j long, dsq long")
    from pyspark.sql import Window

    w_rank = Window.partitionBy("i").orderBy(F.asc("dsq"), F.asc("j"))
    nn = (
        cand.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= _HUB_K)
        .select("j")
    )
    return (
        nn.groupBy("j")
        .agg(F.count(F.lit(1)).alias("n_rev"))
        .select(
            F.col("j").alias("vec_id"),
            F.col("n_rev").cast("bigint").alias("n_rev"),
        )
        .orderBy(F.desc("n_rev"), F.asc("vec_id"))
        .limit(10)
    )


_NER_CTX = 2  # context tokens on each side of the mention


@_q(
    "kg_ner_context_export",
    f"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
    pos AS (SELECT doc_id, toks, i
            FROM s0, LATERAL (SELECT UNNEST(generate_series(1, len(toks)))
                              AS i) g
            WHERE toks[i] IN {_TERMS_SQL}),
    ctx AS (SELECT doc_id, toks[i] AS term, i,
                   COALESCE(array_to_string(
                     toks[GREATEST(i - {_NER_CTX}, 1):i - 1], ' '), '')
                     AS left_ctx,
                   COALESCE(array_to_string(
                     toks[i + 1:LEAST(i + {_NER_CTX}, len(toks))], ' '),
                     '') AS right_ctx
            FROM pos)
    SELECT doc_id, term, CAST(i AS BIGINT) AS pos, left_ctx, right_ctx
    FROM ctx
    ORDER BY term, doc_id, pos LIMIT 50""",
)
def kg_ner_context_export(spark, sf_dir):
    """NER training-context export: every dictionary-entity mention with
    its {_NER_CTX}-token left/right context windows — the
    (context, span) rows a sequence-labeling NER model trains on, and
    the distant-supervision positive set (the dictionary plays the KB
    role; the windows are what the model generalizes FROM to unseen
    entities). The deterministic (term, doc, position) order makes the
    head a stable labeling worklist.

    100 TB shape: mention positions are found INSIDE array HOFs on the
    scan (the kg_search_proximity discipline — only dictionary hits
    become rows, ~5% of tokens); context slicing is array arithmetic on
    the already-loaded token array, no re-tokenization, no join; the
    head-50 is TakeOrderedAndProject.

    Reference analog: none (KG-construction addendum; the training-data
    export for the extractor itself — upstream of kg_kge_train_pairs'
    graph-level exports)."""
    docs = _fan_out(_t(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    hits = _let(
        toks,
        lambda t: F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(t)),
                lambda i: F.when(
                    F.element_at(t, i).isin(DICT_TERMS), i
                ).otherwise(F.lit(None)),
            ),
            lambda x: x.isNotNull(),
        ),
    )
    d = docs.select(
        "doc_id", toks.alias("toks"), F.explode(hits).alias("i")
    )
    return (
        d.select(
            "doc_id",
            F.element_at("toks", F.col("i")).alias("term"),
            F.col("i").cast("bigint").alias("pos"),
            F.array_join(
                F.slice(
                    "toks",
                    F.greatest(F.col("i") - _NER_CTX, F.lit(1)),
                    F.least(F.col("i") - 1, F.lit(_NER_CTX)),
                ),
                " ",
            ).alias("left_ctx"),
            F.array_join(
                F.slice(
                    "toks",
                    F.col("i") + 1,
                    F.least(
                        F.size("toks") - F.col("i"), F.lit(_NER_CTX)
                    ),
                ),
                " ",
            ).alias("right_ctx"),
        )
        .orderBy("term", "doc_id", "pos")
        .limit(50)
    )


@_q(
    "embed_kmeans_purity",
    f"""{_km_chain()},
    lab AS (SELECT a3.vec_id, a3.cent_id AS cluster, emb.label
            FROM a3 JOIN embeddings emb ON emb.vec_id = a3.vec_id),
    cl AS (SELECT cluster, label, COUNT(*) AS c
           FROM lab GROUP BY cluster, label),
    top AS (SELECT cluster, label AS top_label, c AS n_top FROM (
              SELECT cluster, label, c,
                     ROW_NUMBER() OVER (PARTITION BY cluster
                                        ORDER BY c DESC, label ASC) AS rn
              FROM cl) WHERE rn = 1),
    sz AS (SELECT cluster, SUM(c) AS n_vecs FROM cl GROUP BY cluster)
    SELECT CAST(sz.cluster AS BIGINT) AS cluster,
           CAST(sz.n_vecs AS BIGINT) AS n_vecs,
           CAST(top.top_label AS BIGINT) AS top_label,
           CAST(top.n_top AS BIGINT) AS n_top,
           CAST(top.n_top * 1000000 // sz.n_vecs AS BIGINT)
             AS purity_ppm
    FROM sz JOIN top ON top.cluster = sz.cluster
    ORDER BY cluster""",
)
def embed_kmeans_purity(spark, sf_dir):
    """Cluster purity against the label column: per k-means cluster, the
    majority label's share (ppm) — the external-validation score that
    says whether the geometric clustering recovers the semantic classes
    (purity ~ 1/|labels| = the embedding carries no class signal; high
    purity = kmeans cells are usable as cheap class pseudo-labels and
    IVF cells are class-coherent). Scores the SAME clustering as
    embed_kmeans (the shared unrolled-Lloyd chain / the same driver-side
    centroid model), so the two queries can never diverge.

    100 TB shape: adds one vec-keyed label join and two grammar-sized
    aggregates (K x |labels| cells) on top of the kmeans assignment
    pass; output is K rows.

    Reference analog: none (embedding addendum; the external-validation
    leg beside embed_label_separation's internal-distance view)."""
    from pyspark.sql import Window

    km = embed_kmeans(spark, sf_dir).select("vec_id", "cluster")
    lab = km.join(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label"),
        "vec_id",
    )
    cl = lab.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = (
        cl.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster").orderBy(
                    F.desc("c"), F.asc("label")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("label").alias("top_label"),
            F.col("c").alias("n_top"),
        )
    )
    sz = cl.groupBy("cluster").agg(F.sum("c").alias("n_vecs"))
    return (
        sz.join(top, "cluster")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            F.col("top_label").cast("bigint").alias("top_label"),
            F.col("n_top").cast("bigint").alias("n_top"),
            F.expr(
                "CAST(n_top * 1000000 DIV n_vecs AS BIGINT)"
            ).alias("purity_ppm"),
        )
        .orderBy("cluster")
    )


@_q(
    "events_markov2_acc",
    """WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS p1,
             LAG(event_type, 2) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS p2
      FROM events WHERE user_id IS NOT NULL),
    t1 AS (SELECT p1 AS ctx, event_type AS nxt, COUNT(*) AS n FROM s
           WHERE p1 IS NOT NULL GROUP BY p1, event_type),
    pr1 AS (SELECT ctx, nxt FROM (
              SELECT ctx, nxt,
                     ROW_NUMBER() OVER (PARTITION BY ctx
                                        ORDER BY n DESC, nxt ASC) AS rn
              FROM t1) WHERE rn = 1),
    t2 AS (SELECT p2 || '>' || p1 AS ctx, event_type AS nxt,
                  COUNT(*) AS n
           FROM s WHERE p2 IS NOT NULL GROUP BY 1, event_type),
    pr2 AS (SELECT ctx, nxt FROM (
              SELECT ctx, nxt,
                     ROW_NUMBER() OVER (PARTITION BY ctx
                                        ORDER BY n DESC, nxt ASC) AS rn
              FROM t2) WHERE rn = 1),
    ev2 AS (SELECT p2 || '>' || p1 AS ctx2, p1 AS ctx1, event_type AS nxt
            FROM s WHERE p2 IS NOT NULL),
    agg AS (SELECT COUNT(*) AS n,
                   SUM(CASE WHEN pr1.nxt = ev2.nxt THEN 1 ELSE 0 END)
                     AS h1,
                   SUM(CASE WHEN pr2.nxt = ev2.nxt THEN 1 ELSE 0 END)
                     AS h2
            FROM ev2
            JOIN pr1 ON pr1.ctx = ev2.ctx1
            JOIN pr2 ON pr2.ctx = ev2.ctx2)
    SELECT CAST(n AS BIGINT) AS n_transitions,
           CAST(h1 * 1000000 // n AS BIGINT) AS acc1_ppm,
           CAST(h2 * 1000000 // n AS BIGINT) AS acc2_ppm,
           CAST((h2 - h1) * 1000000 // n AS BIGINT) AS lift_ppm
    FROM agg""",
)
def events_markov2_acc(spark, sf_dir):
    """Order-1 vs order-2 Markov predictor accuracy on the SAME
    transition set (both evaluated only where two predecessors exist, so
    the comparison is apples-to-apples): does knowing the previous TWO
    events beat knowing one? A near-zero lift says user behavior is
    effectively first-order (a bigger sequence model is wasted capacity
    on this stream); a large lift justifies longer-context behavioral
    models. Majority-class predictors with deterministic tie-breaks,
    integer-exact scoring — the model-capacity readout over
    events_markov_acc's single-order baseline.

    100 TB shape: one user-keyed window pass produces both contexts;
    the two predictor tables are grammar-sized (|types| and |types|^2
    rows, broadcast-friendly); scoring is one pass over the reduced
    transition rows. One output row.

    Reference analog: none (events addendum; Markov family capacity
    eval)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        _t(spark, sf_dir, "events")
        .where("user_id IS NOT NULL")
        .select(
            "event_type",
            F.lag("event_type", 1).over(w).alias("p1"),
            F.lag("event_type", 2).over(w).alias("p2"),
        )
    )
    ev2 = (
        s.where(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", "p2", "p1").alias("ctx2"),
            F.col("p1").alias("ctx1"),
            F.col("event_type").alias("nxt"),
        )
        .localCheckpoint(eager=True)  # feeds both predictor fits + scoring
    )
    t1 = (
        s.where(F.col("p1").isNotNull())
        .groupBy(F.col("p1").alias("ctx"), F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w1 = Window.partitionBy("ctx").orderBy(F.desc("n"), F.asc("nxt"))
    pr1 = (
        t1.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select(F.col("ctx").alias("ctx1"), F.col("nxt").alias("pred1"))
    )
    t2 = ev2.groupBy(
        F.col("ctx2").alias("ctx"), F.col("nxt").alias("nx")
    ).agg(F.count(F.lit(1)).alias("n"))
    w2 = Window.partitionBy("ctx").orderBy(F.desc("n"), F.asc("nx"))
    pr2 = (
        t2.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(F.col("ctx").alias("ctx2"), F.col("nx").alias("pred2"))
    )
    return (
        ev2.join(F.broadcast(pr1), "ctx1")
        .join(F.broadcast(pr2), "ctx2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("pred1") == F.col("nxt")).cast("long")).alias("h1"),
            F.sum((F.col("pred2") == F.col("nxt")).cast("long")).alias("h2"),
        )
        .select(
            F.col("n").cast("bigint").alias("n_transitions"),
            F.expr("CAST(h1 * 1000000 DIV n AS BIGINT)").alias("acc1_ppm"),
            F.expr("CAST(h2 * 1000000 DIV n AS BIGINT)").alias("acc2_ppm"),
            F.expr("CAST((h2 - h1) * 1000000 DIV n AS BIGINT)").alias(
                "lift_ppm"
            ),
        )
    )


@_q(
    "text_df_drift",
    f"""{_TOKS_CTE},
    mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    half AS (SELECT doc_id,
                    CASE WHEN doc_id < (SELECT m FROM mx) // 2
                         THEN 0 ELSE 1 END AS h
             FROM documents),
    nd AS (SELECT h, COUNT(*) AS n FROM half GROUP BY h),
    v AS (SELECT DISTINCT t.term, half.h, t.doc_id
          FROM toks t JOIN half ON half.doc_id = t.doc_id),
    df AS (SELECT term, h, COUNT(*) AS df FROM v GROUP BY term, h),
    w AS (SELECT COALESCE(a.term, b.term) AS term,
                 COALESCE(a.df, 0) AS df_a, COALESCE(b.df, 0) AS df_b
          FROM (SELECT term, df FROM df WHERE h = 0) a
          FULL OUTER JOIN (SELECT term, df FROM df WHERE h = 1) b
            ON b.term = a.term),
    r AS (SELECT w.term, w.df_a, w.df_b,
                 w.df_a * 1000000 // na.n AS rate_a_ppm,
                 w.df_b * 1000000 // nb.n AS rate_b_ppm
          FROM w
          CROSS JOIN (SELECT n FROM nd WHERE h = 0) na
          CROSS JOIN (SELECT n FROM nd WHERE h = 1) nb
          WHERE w.df_a + w.df_b >= 10)
    SELECT term, CAST(df_a AS BIGINT) AS df_a,
           CAST(df_b AS BIGINT) AS df_b,
           CAST(rate_b_ppm - rate_a_ppm AS BIGINT) AS drift_ppm
    FROM r
    ORDER BY ABS(rate_b_ppm - rate_a_ppm) DESC, term ASC LIMIT 20""",
)
def text_df_drift(spark, sf_dir):
    """Document-frequency drift between crawl halves: the terms whose
    per-document rate moved most between the first and second half of
    the corpus (crawl order = doc_id, the same stand-in text_novelty
    uses) — topic/vocabulary drift inside ONE crawl, the within-corpus
    analog of embed_drift's embedding-space monitor and the trigger for
    re-fitting anything frequency-derived (IDF weights, stopword lists,
    the langid votes). The >= 10 total-df floor keeps rare-term noise
    out of the movers list; rates are exact integer ppm.

    100 TB shape: one tokenize + DISTINCT (term, half, doc) projection
    (vocabulary-x-2-sized after the combiner groupBy); the half sizes
    are a 2-row broadcast; top-20 movers = TakeOrderedAndProject.

    Reference analog: none (text addendum; drift family with
    kg_pred_drift / embed_drift / events_drift — this is the lexical
    axis)."""
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    half = docs.select("doc_id").crossJoin(F.broadcast(mx)).select(
        "doc_id",
        (F.col("doc_id") >= F.expr("m DIV 2")).cast("int").alias("h"),
    )
    nd = half.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    v = (
        _tokens(docs)
        .join(half, "doc_id")
        .select("term", "h", "doc_id")
        .distinct()
    )
    df = v.groupBy("term", "h").agg(F.count(F.lit(1)).alias("df"))
    a = df.where(F.col("h") == 0).select("term", F.col("df").alias("df_a"))
    b = df.where(F.col("h") == 1).select("term", F.col("df").alias("df_b"))
    na = nd.where(F.col("h") == 0).select(F.col("n").alias("na"))
    nb = nd.where(F.col("h") == 1).select(F.col("n").alias("nb"))
    return (
        a.join(b, "term", "full_outer")
        .select(
            "term",
            F.coalesce("df_a", F.lit(0)).alias("df_a"),
            F.coalesce("df_b", F.lit(0)).alias("df_b"),
        )
        .where(F.col("df_a") + F.col("df_b") >= 10)
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "term",
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            F.expr(
                "CAST(df_b * 1000000 DIV nb"
                " - df_a * 1000000 DIV na AS BIGINT)"
            ).alias("drift_ppm"),
        )
        .orderBy(F.abs(F.col("drift_ppm")).desc(), F.asc("term"))
        .limit(20)
    )


@_q(
    "curate_uncertain_batch",
    f"""{_TOKS_CTE},
    {_QUAL_CTE},
    med AS (SELECT qual AS cutoff FROM (
              SELECT qual, ROW_NUMBER() OVER (ORDER BY qual, doc_id) AS rn,
                     COUNT(*) OVER () AS n
              FROM q) WHERE rn = (n - 1) // 2 + 1)
    SELECT q.doc_id, CAST(q.qual AS BIGINT) AS quality_x1000,
           CAST(ABS(q.qual - med.cutoff) AS BIGINT) AS margin
    FROM q CROSS JOIN med
    ORDER BY margin ASC, doc_id ASC LIMIT 20""",
)
def curate_uncertain_batch(spark, sf_dir):
    """Uncertainty-sampling labeling batch: the documents whose quality
    score sits CLOSEST to the decision boundary (the exact corpus
    median, standing in for the production threshold) — the margin-based
    active-learning pick (Lewis & Gale 1994): labeling these moves the
    quality classifier most per annotation dollar, versus labeling the
    confident extremes which teaches it nothing. Pairs with
    er_pair_features (the ER labeling worklist) as the curation side's
    annotation queue.

    100 TB shape: one token-stats aggregate (the shared quality
    formula), one rank-select for the exact median over the |docs|-row
    quality table (quantile-bucket at true scale), and a broadcast
    margin compare; top-20 = TakeOrderedAndProject.

    Reference analog: none (curation addendum; the active-learning leg
    beside curate_train_labels' distant-supervision labels)."""
    from pyspark.sql import Window

    toks = _tokens(_t(spark, sf_dir, "documents"))
    m = _moments(toks)
    q = m.select(
        "doc_id",
        F.expr(_QUAL_SQL).alias("qual"),
    ).localCheckpoint(eager=True)  # feeds the median rank AND the margins
    ranked = q.select(
        "qual",
        F.row_number()
        .over(Window.orderBy(F.asc("qual"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    med = ranked.where(F.col("rn") == F.expr("(n - 1) DIV 2 + 1")).select(
        F.col("qual").alias("cutoff")
    )
    return (
        q.crossJoin(F.broadcast(med))
        .select(
            "doc_id",
            F.col("qual").cast("bigint").alias("quality_x1000"),
            F.abs(F.col("qual") - F.col("cutoff"))
            .cast("bigint")
            .alias("margin"),
        )
        .orderBy(F.asc("margin"), F.asc("doc_id"))
        .limit(20)
    )
