"""The benchmark's input generator is a pure function of the seed.

    python3 -m pytest perfbench/test_inputs.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402

GENERATORS = {
    "crawl_eval": lambda seed: inputs.crawl_tables(seed, replicas=2),
    "large_pages": lambda seed: inputs.large_tables(seed, n_pages=36),
}


def _written(tables, out_dir) -> dict[str, bytes]:
    os.makedirs(out_dir)
    blobs = {}
    for name, pdf in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        inputs.write_table(pdf, path)
        with open(path, "rb") as f:
            blobs[name] = f.read()
    return blobs


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_tables(workload, tmp_path):
    a = _written(GENERATORS[workload](7), tmp_path / "a")
    b = _written(GENERATORS[workload](7), tmp_path / "b")
    assert a == b


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_other_seed_changes_content_not_census(workload, tmp_path):
    t7, t8 = GENERATORS[workload](7), GENERATORS[workload](8)
    a = _written(t7, tmp_path / "a")
    b = _written(t8, tmp_path / "b")
    assert all(a[name] != b[name] for name in a)
    assert inputs.census(t7) == inputs.census(t8)


def test_large_pages_cover_every_shape_in_every_size_bucket():
    census = inputs.census(inputs.large_tables(3, n_pages=36))["pages_by_bucket_kind"]
    assert census == {(bucket, shape): 4
                      for bucket, _lo, _hi in inputs.SIZE_BUCKETS
                      for shape in inputs.LARGE_SHAPES}
    sizes = [len(h) for h in inputs.large_tables(3, n_pages=36)["pages"]["html"]]
    assert min(sizes) >= inputs.LARGE_MIN_BYTES
    assert max(sizes) < inputs.LARGE_MAX_BYTES * 1.03


def test_documents_follow_the_measured_corpus_figures():
    docs = inputs.documents(4, inputs.CRAWL_BASE_DOCS)
    words = docs["text"].str.split()
    n_dup = words.map(lambda ws: ws.count(inputs.NEAR_DUP_MARK))
    assert (words.str[-1] == inputs.NEAR_DUP_MARK).sum() == inputs.CRAWL_BASE_DOCS // 20
    n_words = words.map(len) - n_dup
    assert (n_words.min(), n_words.max()) == inputs.DOC_WORDS
    counts = Counter(w for ws in words for w in ws if w != inputs.NEAR_DUP_MARK)
    shares = [c / sum(counts.values()) for c in counts.values()]
    assert len(counts) == 30 and 0.031 < min(shares) and max(shares) < 0.036


def test_crawl_pages_keep_the_recrawl_share_and_all_variants():
    pages = inputs.crawl_tables(5, replicas=2)["pages"]
    n_urls = pages["url"].nunique()
    assert n_urls == 2 * inputs.CRAWL_BASE_DOCS
    assert len(pages) - n_urls == n_urls // 20  # 5% recrawled urls
    assert set(inputs.census({"pages": pages})["pages_by_bucket_kind"]) == {
        ("lt4k", v) for v in range(16)}
