"""Seeded benchmark inputs.

Every input derives from the ``--seed`` argument through
``datagen.pages.generate_corpus``; the program under test only ever sees the
generated files. Corpora use the generator's default page shape (no filler
sentences, default hub boost). Each is cached under the work directory by
(seed, pages), so a run generates each input once.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from datetime import timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from codegraphcontext_spark.datagen.pages import generate_corpus

# generated pages have urls https://site<k>.example/p/<i>, k in [0, 101);
# the edge-case pages (https://edge.example/...) are never moved or deleted
N_SITES = 101
_MAIN_URL = "https://site"


def corpus(cache: str, seed: int, pages: int) -> str:
    """Generate (once) a corpus; returns its directory, which holds the
    ``pages.parquet`` shard directory and ``golden_edges.parquet``."""
    out = os.path.join(cache, f"corpus-s{seed}-p{pages}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate_corpus(tmp, pages, seed=seed)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


@dataclass(frozen=True)
class IngestInputs:
    corpus: str  # the generated corpus directory
    base_pages: str  # pages the base build commits
    delta_pages: str  # the delta folded by run_incremental
    full_pages: str  # base + delta: the full-rebuild twin of the fold
    golden_edges: str  # golden open-relation edges of the whole corpus
    delete_prefix: str  # site prefix removed by run_delete
    n_delta: int
    n_new: int


def ingest_inputs(cache: str, seed: int, pages: int, delta_frac: float) -> IngestInputs:
    """Split one corpus into a base build and a delta of about
    ``delta_frac`` of the pages.

    Half the delta are urls held out of the base (new pages). The other half
    re-crawl urls the base already has, with the same html at a strictly
    later ``warc_ts``, so they win the latest-snapshot rule. The union of
    base and delta is the whole corpus, so the golden edges of the corpus
    still score the folded graph."""
    src = corpus(cache, seed, pages)
    out = os.path.join(cache, f"ingest-s{seed}-p{pages}-d{delta_frac:g}")
    table = pq.read_table(os.path.join(src, "pages.parquet"))
    urls = table.column("url").to_pylist()
    main = sorted(u for u in set(urls) if u.startswith(_MAIN_URL))
    rng = random.Random(seed)
    n_delta = max(2, round(pages * delta_frac))
    picked = rng.sample(main, n_delta)
    new, recrawl = set(picked[: n_delta // 2]), set(picked[n_delta // 2 :])
    inputs = IngestInputs(
        corpus=src,
        base_pages=os.path.join(out, "base"),
        delta_pages=os.path.join(out, "delta"),
        full_pages=os.path.join(out, "full"),
        golden_edges=os.path.join(src, "golden_edges.parquet"),
        delete_prefix=f"{_MAIN_URL}{rng.randrange(N_SITES)}.example/",
        n_delta=n_delta,
        n_new=len(new),
    )
    if os.path.exists(os.path.join(out, "_DONE")):
        return inputs

    in_new = pa.array([u in new for u in urls])
    in_recrawl = pa.array([u in recrawl for u in urls])
    base = table.filter(pc.invert(in_new))
    later = table.filter(in_recrawl)
    ts = later.column("warc_ts")
    later = later.set_column(
        later.schema.get_field_index("warc_ts"),
        "warc_ts",
        pc.add(ts, pa.scalar(timedelta(days=1), pa.duration("us"))).cast(ts.type),
    )
    delta = pa.concat_tables([table.filter(in_new), later])

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, parts in (("base", [base]), ("delta", [delta]), ("full", [base, delta])):
        os.makedirs(os.path.join(tmp, name))
        for i, part in enumerate(parts):
            pq.write_table(part, os.path.join(tmp, name, f"part-{i:05d}.parquet"), row_group_size=1024)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return inputs


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
