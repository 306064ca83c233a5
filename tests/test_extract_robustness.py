"""Extractor robustness: a scanner failure is reported as a status, and
cost grows linearly on adversarial page shapes (deep unclosed DOMs,
long runs of short paragraphs, a tag left open at EOF)."""

from __future__ import annotations

import gc
import time

import pytest

from text_extraction_evaluation_spark.algo import htmlseg
from text_extraction_evaluation_spark.algo.bte import extract_text_bte
from text_extraction_evaluation_spark.algo.justext import extract_text
from text_extraction_evaluation_spark.algo.textdensity import extract_text_density


EXTRACTORS = {
    "justext": lambda html: extract_text(html, "en"),
    "densometric": extract_text_density,
    "bte": extract_text_bte,
}


@pytest.mark.parametrize("name", ["justext", "densometric"])
def test_scanner_failure_is_parse_error(monkeypatch, name):
    real_scan = htmlseg._fast_scan

    def scan_then_fail(text, core):
        # segment the first half, then fail mid-page
        real_scan(text[: len(text) // 2], core)
        raise ValueError("scanner failed mid-page")

    monkeypatch.setattr(htmlseg, "_fast_scan", scan_then_fail)
    html = "".join(f"<p>{'the content words ' * 30}{i}</p>" for i in range(8))
    res = EXTRACTORS[name](html)
    assert res.status == "parse_error"
    assert res.err and "scanner failed mid-page" in res.err
    assert res.text == ""


SHAPES = {
    "deep_unclosed_div_span": lambda n: "<body>" + "<div><span>word" * n,
    "short_p_run": lambda n: "<body>" + "<p>two words</p>" * n,
    # a tag left open at EOF, as in a truncated record
    "unterminated_tag_tail": lambda n: '<body><p>text</p><a href="/x" ' + "word " * n,
}

N_BLOCKS = 8_000


def _seconds(fn, html):
    # the cyclic GC is off while timing: its full collections walk every
    # object in the process, so inside a large test session they add a
    # cost that grows with the session's heap, not with the page
    gc.collect()
    gc.disable()
    try:
        t0 = time.perf_counter()
        fn(html)
        return time.perf_counter() - t0
    finally:
        gc.enable()


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("name", sorted(EXTRACTORS))
def test_cost_grows_linearly(name, shape):
    # 4x the blocks may cost at most 8x the time: linear growth measures
    # ~3-5x, quadratic growth ~16x. Min of 5 runs each, the two sizes
    # alternating, so a slow spell of the host hits both.
    fn, make = EXTRACTORS[name], SHAPES[shape]
    small_html, large_html = make(N_BLOCKS), make(4 * N_BLOCKS)
    small = large = float("inf")
    for _ in range(5):
        small = min(small, _seconds(fn, small_html))
        large = min(large, _seconds(fn, large_html))
    assert large / small <= 8.0, (name, shape, small, large)
