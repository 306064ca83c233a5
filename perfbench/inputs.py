"""Seeded input generation for every benchmark workload.

Everything the program reads is made here from ``--seed`` and written
once, during set-up, as parquet. The same seed gives byte-identical
tables; another seed changes the words, the orders and the jitter but
keeps the row counts and the size/shape census (see ``census``).

crawl_eval's corpus follows figures measured once on the sf0.1
``documents`` table the program's fixtures come from (5,000 rows):

* words per document: uniform over 10..99 (quantiles p1 10, p25 32,
  p50 54, p75 76, p99 99);
* word frequencies: uniform over a closed 30-word vocabulary (each word
  3.26-3.39% of 270,704 tokens), 14 of whose words are the synthetic
  stoplist (``algo.stoplists``), so paragraphs classify as they do on
  the fixtures;
* 5% near-duplicates (250 rows): another document's text plus the
  token ``dup`` (the 31st word, 0.09% of tokens);
* languages en 41%, zh/es/fr 15% each, de 14%; ``source`` is
  ``src{doc_id % 20}``.
"""

from __future__ import annotations

import math
import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DOC_WORDS = (10, 99)  # inclusive range of words per document
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"

# crawl_eval: the sf0.1 corpus size, fanned out to distinct urls with
# the program's own replica stride (keeps doc_id % 16 and % 20, which
# pick the template variant and the recrawl).
CRAWL_BASE_DOCS = 5000
REPLICA_STRIDE = 10_000_000

# large_pages: three shapes on one log-uniform 1-64 KB size grid.
LARGE_SHAPES = ("content", "short_p", "deep_div")
LARGE_MIN_BYTES = 1 << 10
LARGE_MAX_BYTES = 1 << 16
SIZE_BUCKETS = (("lt4k", 0, 4 << 10), ("4k-16k", 4 << 10, 16 << 10),
                ("16k-64k", 16 << 10, 1 << 62))


def size_bucket(n_bytes: int) -> str:
    for name, lo, hi in SIZE_BUCKETS:
        if lo <= n_bytes < hi:
            return name
    raise ValueError(n_bytes)


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars), dense doc_ids,
    shaped like sf0.1 ``documents`` (see the module docstring)."""
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_docs)
    texts = [_words(rng, int(k)) for k in lengths]
    n_dup = int(n_docs * NEAR_DUP_SHARE)
    for i, j in zip(rng.choice(n_docs, n_dup, replace=False), rng.integers(0, n_docs, n_dup)):
        texts[i] = f"{texts[j]} {NEAR_DUP_MARK}"
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def crawl_tables(seed: int, replicas: int) -> dict[str, pd.DataFrame]:
    """pages + gold for crawl_eval: the program's own page synthesis
    (16 template variants, 5% recrawled urls) over a seeded corpus,
    replicated ``replicas`` times to distinct urls."""
    from text_extraction_evaluation_spark.sources.synth import (
        synth_gold_pdf,
        synth_pages_pdf,
    )

    base = documents(seed, CRAWL_BASE_DOCS)
    docs = pd.concat(
        [base.assign(doc_id=base.doc_id + r * REPLICA_STRIDE) for r in range(replicas)],
        ignore_index=True,
    )
    return {"pages": synth_pages_pdf(docs), "gold": synth_gold_pdf(docs)}


def _large_sizes(seed: int, n_pages: int) -> list[int]:
    """Log-uniform grid over [1 KB, 64 KB): page i sits at the centre
    of the i-th of ``n_pages`` equal log-width strata, jittered by up to
    +-2% in bytes. The grid keeps the census fixed and the costliest
    pages the same size from seed to seed; the bucket edges (4 KB,
    16 KB) fall on stratum edges when ``n_pages`` is a multiple of 3."""
    rng = np.random.default_rng([seed, 2])
    span = math.log(LARGE_MAX_BYTES / LARGE_MIN_BYTES)
    sizes = []
    for i in range(n_pages):
        mid = LARGE_MIN_BYTES * math.exp(span * (i + 0.5) / n_pages)
        sizes.append(int(mid * (1 + rng.uniform(-0.02, 0.02))))
    return sizes


def _page(shape: str, target: int, rng: np.random.Generator) -> tuple[str, str]:
    """One page of ``shape`` grown block by block to ~``target`` bytes;
    returns (html, gold text)."""
    head = "<!DOCTYPE html><html><head><title>bench page</title></head><body>"
    tail = "</body></html>" if shape != "deep_div" else ""
    parts: list[str] = [head]
    gold: list[str] = []
    size = len(head) + len(tail)
    while size < target:
        if shape == "content":
            nav = " ".join(
                f'<a href="/n{j}">{_words(rng, 2)}</a>' for j in range(rng.integers(3, 7))
            )
            para = _words(rng, int(rng.integers(40, 60)))
            block = f'<div class="nav">{nav}</div><p>{para}</p>'
            gold.append(para)
        elif shape == "short_p":
            para = _words(rng, int(rng.integers(2, 5)))
            block = f"<p>{para}</p>"
            gold.append(para)
        else:  # deep_div: never-closed <div><span> nesting
            para = _words(rng, int(rng.integers(2, 5)))
            block = f"<div><span>{para}"
            gold.append(para)
        parts.append(block)
        size += len(block)
    parts.append(tail)
    return "".join(parts), " ".join(gold)


def large_tables(seed: int, n_pages: int) -> dict[str, pd.DataFrame]:
    """pages + gold for large_pages. Shapes cycle over the size grid,
    so every shape covers every size bucket equally. ``dataset`` is the
    shape, so the ranked report ranks extractors per shape."""
    rng = np.random.default_rng([seed, 3])
    urls, htmls, golds, shapes = [], [], [], []
    for i, target in enumerate(_large_sizes(seed, n_pages)):
        shape = LARGE_SHAPES[i % len(LARGE_SHAPES)]
        html, gold = _page(shape, target, rng)
        urls.append(f"http://large{i % 7}.example/{seed}/{i}")
        htmls.append(html.encode("utf-8"))
        golds.append(gold)
        shapes.append(shape)
    n = len(urls)
    pages = pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Series(
            pd.to_datetime([datetime(2024, 1, 1)] * n), dtype="datetime64[us]"
        ),
        "html": htmls,
        "lang": ["en"] * n,
        "shape": shapes,
    })
    gold = pd.DataFrame({"url": urls, "gold_text": golds, "dataset": shapes})
    return {"pages": pages, "gold": gold}


def write_table(pdf: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write ``pdf`` as parquet: one file at ``path`` when ``n_files``
    is 1, else a directory of ``n_files`` row-contiguous parts (one
    scan partition each). Written without pandas metadata or
    statistics timestamps, so equal frames give equal bytes."""
    table = pa.Table.from_pandas(pdf, preserve_index=False).replace_schema_metadata(None)
    if n_files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:04d}.parquet"))


def census(tables: dict[str, pd.DataFrame]) -> dict[str, object]:
    """Seed-independent shape of a workload's tables: row counts, and
    for page tables the (size bucket, template or shape) counts."""
    out: dict[str, object] = {name: len(df) for name, df in tables.items()}
    pages = tables.get("pages")
    if pages is not None:
        if "shape" in pages:
            kinds = pages["shape"]
        else:  # crawl pages: the template variant is doc_id % 16
            kinds = pages["url"].str.rsplit("/", n=1).str[1].astype(int) % 16
        buckets = pages["html"].map(lambda b: size_bucket(len(b)))
        out["pages_by_bucket_kind"] = (
            pd.crosstab(buckets, kinds).stack().to_dict()
        )
    return out
