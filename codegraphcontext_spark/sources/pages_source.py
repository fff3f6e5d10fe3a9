"""Source/sink layer: ingest the canonical ``pages`` table from any of the
formats a web-crawl corpus actually arrives in, normalized to ONE schema so
the pipeline is format-agnostic (the reference walks a local directory tree
and dispatches per-file, ``graph_builder.py:443-476``; a crawl-scale engine's
equivalent seam is the storage format, not the filesystem).

Formats:

- **parquet** — the native/fast path (columnar, predicate pushdown, column
  pruning). Everything at rest should be this.
- **warc** — the interchange format web crawls ship in (Common Crawl ships
  ~1 GB ``.warc.gz`` segments). Parsed here via ``binaryFile`` +
  ``mapInPandas``: one task per archive file, which IS the production unit
  of parallelism for WARC — the format is a concatenated record stream, so
  record boundaries are only discoverable by scanning, and the standard
  cluster recipe (warcio on executors, one file per task) has exactly this
  shape. At 100 TB you get tens of thousands of segment files and therefore
  tens of thousands of parallel tasks; per-file memory is bounded by the
  segment size the crawler wrote.
- **orc** — the other columnar lake format Spark reads natively; same
  pushdown/column-pruning contract as parquet (one `.orc` suffix probe in
  `infer_format`, binary html travels as-is).
- **jsonl / csv** — text interchange for small corpora and debugging; the
  ``html`` blob travels base64-encoded (both formats are line-oriented and
  cannot carry raw bytes), decoded JVM-side with ``unbase64`` — no Python
  in the decode path.

Readers return the canonical columns ``(url string, warc_ts, html binary,
text string, lang string)`` regardless of source; writers exist so tests and
fixtures can round-trip a corpus through every format. ``warc_ts`` keeps the
type the source stores: ``timestamp`` from warc, jsonl and csv (parsed in the
session time zone), and from parquet/orc files whose timestamps are
UTC-adjusted; ``timestamp_ntz`` from parquet written with local-time
timestamps (``isAdjustedToUTC=false``, pyarrow's default for naive
datetimes, which is how the generated corpora are written). The stages
downstream carry that type through unchanged.

A parquet corpus is opened with the schema Spark's own inference would
give it, but read on the driver from the first data file's footer
(``_footer_schema``), so opening it starts no schema-inference job.
"""

from __future__ import annotations

import base64
import glob
import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)

_COLS = [f.name for f in PAGES_SCHEMA.fields]

# WARC-ish framing (a faithful subset of WARC/1.0 response records: header
# block, blank line, payload, double-newline separator). Payload length comes
# from Content-Length, as in real WARC — payloads may contain blank lines.
_WARC_VERSION = b"WARC/1.0"
_SEP = b"\r\n"

# Per-record payload cap: one pathological record (a multi-GB "page" some
# crawler wrote) must not OOM its task — the record is skipped and COUNTED,
# never fatal. Real WARC writers cap payloads around 1 MB; 64 MiB is far
# above any legitimate page while staying well inside executor task memory.
WARC_MAX_RECORD_BYTES = 64 * 1024 * 1024


def infer_format(path: str) -> str:
    """Infer the source format from the path: explicit extension wins, a
    directory is probed for data files (parquet > warc > jsonl > csv)."""
    base = path.rstrip("/")
    low = base.lower()
    for ext, fmt in (
        (".parquet", "parquet"),
        (".orc", "orc"),
        (".warc.gz", "warc"),
        (".warc", "warc"),
        (".jsonl.gz", "jsonl"),
        (".jsonl", "jsonl"),
        (".json", "jsonl"),
        (".csv.gz", "csv"),
        (".csv", "csv"),
    ):
        if low.endswith(ext):
            return fmt
    if os.path.isdir(base):
        for pat, fmt in (
            ("*.parquet", "parquet"),
            ("*.orc", "orc"),
            ("_SUCCESS", "parquet"),
            ("*.warc*", "warc"),
            ("*.jsonl*", "jsonl"),
            ("*.csv*", "csv"),
        ):
            if glob.glob(os.path.join(base, pat)):
                return fmt
    return "parquet"


def read_pages(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Read a pages corpus in any supported format as the canonical schema."""
    fmt = fmt or infer_format(path)
    if fmt == "parquet":
        schema = _footer_schema(spark, path)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(path).select(*_COLS)
    if fmt == "orc":
        # the other columnar lake format Spark reads natively; same
        # pushdown/pruning contract as parquet, binary column travels as-is
        return spark.read.orc(path).select(*_COLS)
    if fmt == "warc":
        return _read_warc(spark, path)
    if fmt == "jsonl":
        raw = spark.read.json(path)
        return _from_text_rows(raw)
    if fmt == "csv":
        # \N null sentinel: CSV cannot otherwise distinguish null from ""
        raw = spark.read.csv(
            path, header=True, escape='"', multiLine=True, nullValue="\\N"
        )
        return _from_text_rows(raw)
    raise ValueError(f"unsupported pages format: {fmt!r}")


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    first data file's footer with Spark's own footer-to-schema conversion
    on the driver (inference reads the same footer, but in a Spark job).
    None -- plain inference then -- unless ``path`` is a local file or a
    flat local directory of data files without summary files, and schema
    merging is off."""
    from py4j.protocol import Py4JError

    if spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true":
        return None
    if os.path.isfile(path):
        first = path
    elif os.path.isdir(path):
        names = sorted(os.listdir(path))
        if any(
            os.path.isdir(os.path.join(path, n)) or n in ("_metadata", "_common_metadata")
            for n in names
        ):
            return None  # partition directories or summary files: infer
        data = [n for n in names if not n.startswith(("_", "."))]
        if not data:
            return None
        first = os.path.join(path, data[0])
    else:
        return None
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    try:
        hpath = jvm.org.apache.hadoop.fs.Path(os.path.abspath(first))
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark._jsc.hadoopConfiguration(), hpath
        )
        converter = parquet.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        )
        schema = parquet.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(hpath, footer), converter
        )
    except Py4JError:
        return None
    return StructType.fromJson(json.loads(schema.json()))


def _from_text_rows(raw: DataFrame) -> DataFrame:
    """Normalize a text-format frame (html base64 in ``html_b64``) to the
    canonical schema. ``unbase64``/``to_timestamp`` run JVM-side."""
    return raw.select(
        F.col("url").cast("string"),
        F.to_timestamp("warc_ts").alias("warc_ts"),
        F.unbase64(F.col("html_b64")).alias("html"),
        F.col("text").cast("string"),
        F.col("lang").cast("string"),
    )


# ---------------------------------------------------------------------------
# WARC-ish reader: binaryFile scan -> per-file record split in Arrow batches.
# ---------------------------------------------------------------------------
def _parse_warc_bytes(
    blob: bytes,
    max_record_bytes: int = WARC_MAX_RECORD_BYTES,
    stats: dict | None = None,
) -> Iterator[tuple]:
    pos = 0
    n = len(blob)
    while pos < n:
        head_end = blob.find(_SEP + _SEP, pos)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in blob[pos:head_end].split(_SEP):
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = -1
        if length < 0:
            # malformed Content-Length: the payload boundary is unknowable,
            # so resync at the next record marker instead of dying
            if stats is not None:
                stats["malformed"] = stats.get("malformed", 0) + 1
            nxt = blob.find(_WARC_VERSION, head_end + 4)
            if nxt < 0:
                break
            pos = nxt
            continue
        skip_payload = length > max_record_bytes
        payload = b"" if skip_payload else blob[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        # skip the inter-record separator (any run of CRLFs)
        while blob[pos : pos + 2] == _SEP:
            pos += 2
        if skip_payload:
            # oversized record: framing is still walked (pos advanced past
            # the payload) but the blob never materializes downstream
            if stats is not None:
                stats["oversized"] = stats.get("oversized", 0) + 1
            continue
        if headers.get("warc-type") != "response":
            continue
        # presence of the header (even with an empty value) means non-null:
        # b64("") == "" and empty-string != null must survive the round trip
        text_b64 = headers.get("x-extracted-text-b64")
        yield (
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            payload,
            base64.b64decode(text_b64).decode("utf-8")
            if text_b64 is not None
            else None,
            headers.get("content-language"),  # absent -> None, empty -> ''
        )


def _read_warc(
    spark: SparkSession,
    path: str,
    max_record_bytes: int = WARC_MAX_RECORD_BYTES,
) -> DataFrame:
    if os.path.isdir(path):
        path = os.path.join(path, "*.warc*")

    # executor-side counter for records the guard dropped: skips must be
    # OBSERVABLE (a silent drop reads as "parsed everything"), surfaced on
    # the returned frame as `df.warc_skipped_records.value` after an action
    skipped_acc = spark.sparkContext.accumulator(0)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip
        import logging

        for pdf in batches:
            rows = []
            for blob, fname in zip(pdf["content"], pdf["path"]):
                data = bytes(blob)
                if fname.endswith(".gz"):
                    data = gzip.decompress(data)
                stats: dict[str, int] = {}
                rows.extend(_parse_warc_bytes(data, max_record_bytes, stats))
                n_skip = sum(stats.values())
                if n_skip:
                    skipped_acc.add(n_skip)
                    logging.getLogger(__name__).warning(
                        "warc %s: skipped %d record(s) (%s)", fname, n_skip, stats
                    )
            out = pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )
            out["warc_ts"] = pd.to_datetime(
                out["warc_ts"], format="ISO8601", utc=True
            ).dt.tz_localize(None)
            yield out

    raw = spark.read.format("binaryFile").load(path).select("path", "content")
    df = raw.mapInPandas(parse, schema=PAGES_SCHEMA)
    df.warc_skipped_records = skipped_acc
    return df


# ---------------------------------------------------------------------------
# Sinks (fixture/round-trip writers; driver-side, small corpora only).
# ---------------------------------------------------------------------------
def _text_rows(pages: DataFrame) -> "pd.DataFrame":
    pdf = pages.select(*_COLS).toPandas()
    pdf["html_b64"] = [
        base64.b64encode(bytes(b) if b is not None else b"").decode("ascii")
        for b in pdf.pop("html")
    ]
    pdf["warc_ts"] = pdf["warc_ts"].map(
        lambda t: t.isoformat(sep=" ") if t is not None else None
    )
    return pdf[["url", "warc_ts", "html_b64", "text", "lang"]]


def write_pages_jsonl(pages: DataFrame, out_path: str) -> None:
    _text_rows(pages).to_json(out_path, orient="records", lines=True)


def write_pages_csv(pages: DataFrame, out_path: str) -> None:
    import csv

    # QUOTE_NONNUMERIC: Spark's parser nulls UNQUOTED empty fields but keeps
    # quoted "" as the empty string — quote everything so ""/null survive
    _text_rows(pages).to_csv(
        out_path, index=False, na_rep="\\N", quoting=csv.QUOTE_NONNUMERIC
    )


def write_pages_warc(pages: DataFrame, out_dir: str, n_files: int = 4) -> None:
    """Shard the corpus into ``n_files`` WARC-ish archives (gzipped), the
    layout a crawler would hand the engine."""
    import gzip

    os.makedirs(out_dir, exist_ok=True)
    rows = pages.select(*_COLS).collect()
    shards: list[list[bytes]] = [[] for _ in range(n_files)]
    for i, r in enumerate(rows):
        payload = bytes(r.html) if r.html is not None else b""
        head = [
            _WARC_VERSION,
            b"WARC-Type: response",
            b"WARC-Target-URI: " + r.url.encode(),
            b"WARC-Date: " + r.warc_ts.isoformat().encode() + b"Z",
            b"Content-Length: " + str(len(payload)).encode(),
        ]
        if r.text is not None:
            # base64: header framing is CRLF-delimited and text may contain
            # newlines (real WARC carries no extracted text; this sidecar
            # header keeps the fixture round-trip lossless)
            head.append(
                b"X-Extracted-Text-B64: "
                + base64.b64encode(r.text.encode("utf-8"))
            )
        if r.lang is not None:
            head.append(b"Content-Language: " + r.lang.encode())
        rec = _SEP.join(head) + _SEP + _SEP + payload + _SEP + _SEP
        shards[i % n_files].append(rec)
    for k, recs in enumerate(shards):
        with gzip.open(os.path.join(out_dir, f"seg-{k:05d}.warc.gz"), "wb") as f:
            f.write(b"".join(recs))
