"""Stage 3 — pattern-table triple / definition / outlink extraction.

The predicate patterns are DATA (a broadcast DataFrame built from the
vocabulary), not code — the webtext transposition of the reference's
declarative tree-sitter query strings (reference ``languages/python.py:8-44``,
compiled per AST at ``python.py:55-58``): adding a predicate = adding a row.

Extraction itself is pure Catalyst: a broadcast cross join of sentences x
patterns filtered on ``instr`` (substring search), then substring arithmetic
for the subject/object slots. No regex-per-row Python, no UDFs.

Analogues:
  * triples_stage  <- reference ``_find_calls`` (python.py:318-346): per-site
    (mention, predicate, object, position) records.
  * defs_stage     <- reference pre-scan definitions (python.py:385-406):
    "X is a <type>." sentences are the corpus's entity definitions.
  * links_stage    <- reference ``_find_imports`` (python.py:249-316) /
    regex import extractors (import_extractor.py:58-110): page -> domain
    outlinks via ``regexp_extract_all`` over the raw html.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..datagen.vocab import DEF_I18N, EXTRACTION_LANGS, PREDICATES, pred_phrase


def _eff_lang(df: DataFrame):
    """The ruleset a row dispatches to: its lang tag when a pack exists for
    it, else 'en' (the reference's default-parser fallback for unknown file
    types). Sentences from pre-lang callers (no lang column) are 'en'."""
    if "lang" not in df.columns:
        return F.lit("en")
    return F.when(
        F.col("lang").isin(*EXTRACTION_LANGS), F.col("lang")
    ).otherwise(F.lit("en"))


def patterns_df(spark: SparkSession) -> DataFrame:
    """The broadcastable predicate pattern table — one row per
    (lang, predicate): a language pack is pattern ROWS, not code (the
    per-language parser analog, reference graph_builder.py:58-61 +
    import_extractor.py:58-110). Built from an Arrow table, so the frame is
    a ``LocalRelation``: a Python list would make it a ``Scan ExistingRDD``
    whose every action re-pickles the rows through Python workers."""
    import pyarrow as pa

    rows = [
        (lang, p, pred_phrase(p, phrase, lang), list(st), list(ot))
        for lang in EXTRACTION_LANGS
        for p, phrase, st, ot in PREDICATES
    ]
    names = ["plang", "pred", "phrase", "subj_types", "obj_types"]
    return spark.createDataFrame(
        pa.table([pa.array(col) for col in zip(*rows)], names=names),
        "plang string, pred string, phrase string, "
        "subj_types array<string>, obj_types array<string>",
    )


def triples_stage(sentences: DataFrame, patterns: DataFrame) -> DataFrame:
    """sentences(url, sent_id, sentence[, lang]) x patterns ->
    mentions-level triples(url, sent_id, subj_surface, pred, obj_surface,
    subj_types, obj_types).

    The pattern table is tiny -> broadcast nested-loop join; rows pair only
    with their language's pattern pack (plang dispatch), and the instr
    filter prunes non-matching (sentence, pattern) pairs before any string
    surgery.
    """
    needle = F.concat(F.lit(" "), F.col("phrase"), F.lit(" "))
    pos = F.instr(F.col("sentence"), needle)
    hit = (
        sentences.withColumn("_elang", _eff_lang(sentences))
        .join(F.broadcast(patterns), F.col("_elang") == F.col("plang"))
        .where(pos > 0)
        .withColumn("pos", pos)
    )
    subj = F.trim(F.substring(F.col("sentence"), F.lit(1), F.col("pos") - 1))
    # object = after the phrase, minus the trailing period
    tail_start = F.col("pos") + F.length("phrase") + 2
    tail = F.col("sentence").substr(tail_start, F.length("sentence"))
    obj = F.trim(F.regexp_replace(tail, r"\.$", ""))
    return (
        hit.select(
            "url",
            "sent_id",
            subj.alias("subj_surface"),
            "pred",
            obj.alias("obj_surface"),
            "subj_types",
            "obj_types",
        )
        # a subject/object slot must be non-empty to be a mention
        .where((F.length("subj_surface") > 0) & (F.length("obj_surface") > 0))
    )


def defs_stage(sentences: DataFrame) -> DataFrame:
    """Definitional sentences ("X is a <noun>." / "X ist <noun>." / ...) ->
    defs(url, sent_id, surface, etype).

    This is the dictionary pre-scan (E11 analog): the only place entity types
    are *declared* in the corpus. One Catalyst branch per language pack,
    unioned — each branch applies only to its dispatched rows, so an English
    copula on a German page (or vice versa) is never parsed.
    """
    import re

    eff = _eff_lang(sentences)
    branches = []
    for lang in EXTRACTION_LANGS:
        copula, nouns = DEF_I18N[lang]
        noun_alt = "|".join(re.escape(n) for n in sorted(nouns))
        pat = rf"^(.+) {re.escape(copula)} ({noun_alt})\.$"
        surface = F.regexp_extract("sentence", pat, 1)
        noun = F.regexp_extract("sentence", pat, 2)
        noun_type = F.create_map(
            *[x for n, t in nouns.items() for x in (F.lit(n), F.lit(t))]
        )
        branches.append(
            sentences.where(eff == lang)
            .where(F.col("sentence").rlike(rf" {re.escape(copula)} ({noun_alt})\.$"))
            .select(
                "url",
                "sent_id",
                surface.alias("surface"),
                noun_type[noun].alias("etype"),
            )
            .where(F.length("surface") > 0)
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def links_stage(pages: DataFrame) -> DataFrame:
    """pages(url, html) -> links(url, domain): absolute-href outlink domains.

    regexp_extract_all over the decoded html (JVM, vectorized); relative
    hrefs (site nav boilerplate) have no scheme and are excluded, mirroring
    the reference's relative-import drop (import_extractor.py:44-47).
    """
    # lenient decode: ANSI `decode` throws on invalid UTF-8; the cast copies
    # bytes and make_valid_utf8 substitutes U+FFFD (matches Python
    # errors='replace' on the extractor side)
    html_str = F.expr("make_valid_utf8(cast(html as string))")
    domains = F.regexp_extract_all(html_str, F.lit(r'href="https?://([^/"]+)'), F.lit(1))
    return (
        pages.select("url", F.explode(domains).alias("domain"))
        .where(~F.col("domain").endswith(".example"))  # self/site links excluded
        .distinct()
    )
