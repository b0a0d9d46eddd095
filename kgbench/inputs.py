"""Seeded inputs for the KG benchmark.

Everything the program reads is generated here from the workload seed and
written as Parquet under the run's scratch directory:

* ``documents`` — ``(doc_id, text, lang, source, n_chars)`` with the same
  shape as the engine's ``documents`` table: filler text over a 30-word
  vocabulary, five languages (en-heavy), 10-100 words per document. The
  seed picks the words and SHIFTS every ``doc_id`` by ``doc_shift(seed)``;
  ``doc_id`` is the key every planted sentence, URL and link hashes from
  (``functions/hashing.py``), so each seed plants a different corpus.
* ``pages`` — ``(doc_id, url, warc_ts, html, text, lang)`` derived from
  ``documents`` through the public ``sources.pages.pages_sql`` (DuckDB
  dialect) plus ``html_expr``; ``text`` is NULL so the program must clean
  the html bytes itself. Written as ``N_PAGE_FILES`` files keyed by
  ``doc_id``, like a crawl segment.

Shifting keeps every id far below the ``2**31`` hashing bound and below
the dedup operators' ``+1e6`` / ``+2e6`` copy offsets' collision range
(at most ``MAX_DOCS`` documents per run).
"""

from __future__ import annotations

import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from nerpii_spark.sources import pages as P

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en",) * 11 + ("de",) * 4 + ("es",) * 4 + ("fr",) * 4 + ("zh",) * 4
MAX_DOCS = 900_000
N_PAGE_FILES = 16


def doc_shift(seed: int) -> int:
    """First ``doc_id`` of the seed's corpus (multiples of 1e6, < 1e9)."""
    return (seed % 997) * 1_000_000


def documents_table(seed: int, n_docs: int) -> pa.Table:
    if not 0 < n_docs <= MAX_DOCS:
        raise ValueError(f"n_docs must be in 1..{MAX_DOCS}, got {n_docs}")
    rnd = random.Random(seed)
    base = doc_shift(seed)
    ids, texts, langs, sources = [], [], [], []
    for i in range(n_docs):
        words = rnd.choices(VOCAB, k=rnd.randint(10, 100))
        ids.append(base + i)
        texts.append(" ".join(words))
        langs.append(rnd.choice(LANGS))
        sources.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def pages_query() -> str:
    """DuckDB SELECT over relation ``documents`` producing the pages table
    exactly as the Spark corpus builder does (``pages_sql(with_html=True)``
    with ``text`` nulled), via the dual-dialect builders."""
    html = P.html_expr("duck", "p.text", "p.doc_id")
    return f"""
select p.doc_id, p.url,
       to_timestamp({P.BASE_EPOCH} + p.doc_id) as warc_ts,
       encode({html}) as html,
       cast(null as varchar) as text,
       p.lang
from ({P.pages_sql("duck", doc_rel="documents")}) p
"""


def write_inputs(out_dir: str, seed: int, n_docs: int) -> dict[str, int]:
    """Materialize the seed's tables under ``out_dir`` (an sf-style
    directory: ``<out_dir>/<table>.parquet``); returns input sizes."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents_table(seed, n_docs)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    sizes = {"docs": n_docs, "doc_bytes": sum(docs.column("n_chars").to_pylist())}
    con = duckdb.connect(config={"threads": 2})
    try:
        con.register("documents", docs)
        pages = con.sql(pages_query()).arrow()
    finally:
        con.close()
    pdir = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pdir, exist_ok=True)
    ids = pages.column("doc_id").to_pylist()
    for k in range(N_PAGE_FILES):
        rows = [i for i, d in enumerate(ids) if d % N_PAGE_FILES == k]
        pq.write_table(
            pages.take(rows), os.path.join(pdir, f"part-{k:05d}.parquet")
        )
    sizes["pages"] = pages.num_rows
    sizes["html_bytes"] = sum(len(h) for h in pages.column("html").to_pylist())
    return sizes
