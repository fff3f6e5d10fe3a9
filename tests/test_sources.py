"""Source-format layer: every supported ingest format must yield the SAME
canonical pages frame — and the pipeline must produce the SAME docs output
from a WARC corpus as from the native parquet (the format seam is below the
fingerprint/extract machinery, so nothing downstream can tell them apart).
Reference analog: the per-file dispatch walk of ``graph_builder.py:443-476``;
the crawl-scale equivalent seam is the storage format.
"""

import os

import pytest
from pyspark.sql import functions as F

from codegraphcontext_spark.pipeline.runner import PipelineRunner
from codegraphcontext_spark.sources import (
    infer_format,
    read_pages,
    write_pages_csv,
    write_pages_jsonl,
    write_pages_warc,
)


def _canon(df):
    """Comparable canonical rows: blob -> md5, timestamp -> isoformat."""
    rows = (
        df.select(
            "url",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.md5(F.col("html")).alias("html_md5"),
            "text",
            "lang",
        )
        .collect()
    )
    return sorted(tuple(r) for r in rows)


@pytest.fixture(scope="module")
def formats_dir(spark, corpus_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("formats"))
    pages = read_pages(spark, os.path.join(corpus_dir, "pages.parquet"))
    write_pages_jsonl(pages, os.path.join(d, "pages.jsonl"))
    write_pages_csv(pages, os.path.join(d, "pages.csv"))
    write_pages_warc(pages, os.path.join(d, "warc"), n_files=4)
    pages.write.orc(os.path.join(d, "pages_orc"))
    return d


def test_infer_format(formats_dir, corpus_dir):
    assert infer_format(os.path.join(corpus_dir, "pages.parquet")) == "parquet"
    assert infer_format(os.path.join(formats_dir, "pages.jsonl")) == "jsonl"
    assert infer_format(os.path.join(formats_dir, "pages.csv")) == "csv"
    assert infer_format(os.path.join(formats_dir, "warc")) == "warc"
    assert infer_format(os.path.join(formats_dir, "pages_orc")) == "orc"
    assert (
        infer_format(os.path.join(formats_dir, "warc", "seg-00000.warc.gz"))
        == "warc"
    )


@pytest.mark.parametrize("fmt,name", [
    ("jsonl", "pages.jsonl"),
    ("csv", "pages.csv"),
    ("warc", "warc"),
    ("orc", "pages_orc"),
])
def test_format_roundtrip_identical(spark, corpus_dir, formats_dir, fmt, name):
    native = _canon(read_pages(spark, os.path.join(corpus_dir, "pages.parquet")))
    other = _canon(read_pages(spark, os.path.join(formats_dir, name)))
    assert other == native


def test_warc_parallelism_is_per_file(spark, formats_dir):
    # one shard file -> one input partition each: the production unit of
    # parallelism for a concatenated-record stream format
    df = read_pages(spark, os.path.join(formats_dir, "warc"))
    assert df.rdd.getNumPartitions() >= 1
    assert df.count() > 0


def test_pipeline_from_warc_matches_parquet(
    spark, corpus_dir, formats_dir, pipeline_out, tmp_path_factory
):
    wd = str(tmp_path_factory.mktemp("warc_wd"))
    out = PipelineRunner(
        spark, os.path.join(formats_dir, "warc"), wd, checkpoint="minimal"
    ).run()
    ref_edges = pipeline_out["edges"]
    got_edges = out["edges"]
    key = ["subj_id", "pred", "obj_id", "n_occurrences"]
    assert sorted(map(tuple, got_edges.select(*key).collect())) == sorted(
        map(tuple, ref_edges.select(*key).collect())
    )


def test_warc_truncated_tail_parses_valid_prefix(spark, formats_dir, tmp_path):
    """A crawler dying mid-record leaves a truncated final record; the
    reader must yield every complete record before it and clamp (not crash
    on) the torn one."""
    import gzip

    src = os.path.join(formats_dir, "warc", "seg-00000.warc.gz")
    raw = gzip.decompress(open(src, "rb").read())
    d = tmp_path / "torn"
    d.mkdir()
    with gzip.open(d / "seg-torn.warc.gz", "wb") as f:
        f.write(raw[: int(len(raw) * 0.6)])  # cut mid-stream
    full = read_pages(spark, src).count()
    torn = read_pages(spark, str(d)).count()
    assert 0 < torn < full


def test_incremental_accepts_jsonl_delta(spark, corpus_dir, tmp_path):
    """run_incremental folds a delta shipped in a text format — the format
    seam sits below the mutation machinery too."""
    from pyspark.sql import functions as F

    from codegraphcontext_spark.pipeline.runner import PipelineRunner

    wd = str(tmp_path / "wd")
    base = os.path.join(corpus_dir, "pages.parquet")
    PipelineRunner(spark, base, wd, checkpoint="all").run()

    # delta: a fresh snapshot of one existing url, shipped as jsonl
    pages = read_pages(spark, base)
    one = pages.orderBy("url").limit(1).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 400 DAYS")
    )
    delta_path = str(tmp_path / "delta.jsonl")
    write_pages_jsonl(one, delta_path)

    out = PipelineRunner(spark, base, wd, checkpoint="all").run_incremental(
        delta_path
    )
    url = one.collect()[0].url
    got = out["docs"].where(F.col("url") == url).collect()
    assert len(got) == 1  # latest-wins fold, via the jsonl ingest path


def test_warc_oversized_record_skipped_not_fatal(spark, tmp_path):
    """One pathological record (payload over the per-record cap, or a
    garbage Content-Length) is skipped AND counted — never a task OOM/crash;
    every well-formed record around it still parses."""
    import gzip

    from codegraphcontext_spark.sources.pages_source import _read_warc

    def rec(url, payload, length=None):
        head = b"\r\n".join(
            [
                b"WARC/1.0",
                b"WARC-Type: response",
                b"WARC-Target-URI: " + url,
                b"WARC-Date: 2026-01-01T00:00:00Z",
                b"Content-Length: "
                + (str(len(payload)).encode() if length is None else length),
            ]
        )
        return head + b"\r\n\r\n" + payload + b"\r\n\r\n"

    blob = (
        rec(b"https://ok.example/1", b"<html>fine</html>")
        + rec(b"https://big.example/2", b"x" * 5000)  # over the 1 KiB test cap
        + rec(b"https://bad.example/3", b"<p>y</p>", length=b"not-a-number")
        + rec(b"https://ok.example/4", b"<html>also fine</html>")
    )
    d = tmp_path / "warc"
    d.mkdir()
    with gzip.open(d / "seg-00000.warc.gz", "wb") as f:
        f.write(blob)

    df = _read_warc(spark, str(d), max_record_bytes=1024)
    urls = sorted(r.url for r in df.collect())
    assert urls == ["https://ok.example/1", "https://ok.example/4"]
    assert df.warc_skipped_records.value == 2


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted by job group."""
    sc = spark.sparkContext
    group = f"test-sources-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_read_starts_no_inference_job(spark, corpus_dir, tmp_path):
    """read_pages opens a parquet corpus with the schema read from its first
    data file's footer: no Spark job, and the same schema and rows as
    ``spark.read.parquet(p).select(...)`` -- for the single-file test
    corpus (local-time timestamps, read as timestamp_ntz), a directory of
    ``part-00000.parquet`` shards as the benchmark writes them, and shards
    with UTC-adjusted timestamps (read as timestamp)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    single = os.path.join(corpus_dir, "pages.parquet")
    t = pq.read_table(single)
    ts = t.schema.get_field_index("warc_ts")
    utc = t.set_column(
        ts, "warc_ts", t.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
    )
    paths = [single]
    for name, table in (("shards", t), ("shards_utc", utc)):
        d = tmp_path / name
        d.mkdir()
        half = table.num_rows // 2
        pq.write_table(table.slice(0, half), d / "part-00000.parquet")
        pq.write_table(table.slice(half), d / "part-00001.parquet")
        paths.append(str(d))
    types = []
    for path in paths:
        df, jobs = _jobs(spark, lambda: read_pages(spark, path))
        assert jobs == 0, path
        ref = spark.read.parquet(path).select(*df.columns)
        assert df.schema == ref.schema, path
        assert df.exceptAll(ref).count() == 0 and ref.exceptAll(df).count() == 0
        types.append(df.schema["warc_ts"].dataType.simpleString())
    assert types == ["timestamp_ntz", "timestamp_ntz", "timestamp"]
