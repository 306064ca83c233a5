"""Unit tests for LCS/BoW scoring (SURVEY.md Appendix B)."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from text_extraction_evaluation_spark.algo.metrics import (
    bow_matched,
    lcs_matched,
    score_texts,
)


def test_identical_texts_perfect():
    s = score_texts("a b c d", "a b c d")
    assert s.precision == s.recall == s.f1 == 1.0
    assert s.f1_bow == 1.0
    assert s.matched == s.retrieved == s.relevant == 4
    assert s.status == "ok"


def test_empty_retrieved():
    s = score_texts("", "a b")
    assert s.precision == s.recall == s.f1 == 0.0
    assert s.status == "empty"


def test_empty_gold():
    s = score_texts("a b", "")
    assert s.status == "no_gold"
    assert s.f1 == 0.0


def test_lcs_respects_order():
    # reversed tokens: LCS = 1, bag = 3
    assert lcs_matched(["a", "b", "c"], ["c", "b", "a"]) == 1
    assert bow_matched(["a", "b", "c"], ["c", "b", "a"]) == 3


def test_bow_multiset_min():
    assert bow_matched(["a", "a", "a"], ["a", "a"]) == 2


def test_partial_overlap_scores():
    s = score_texts("x a b c", "a b c y")
    assert s.matched == 3
    assert math.isclose(s.precision, 3 / 4)
    assert math.isclose(s.recall, 3 / 4)
    assert math.isclose(s.f1, 0.75)


def test_autojunk_disabled_on_long_sequences():
    # 300 repeats of one token: with autojunk the popular token would be
    # junked and matched==0; we require full match
    toks = " ".join(["tok"] * 300)
    s = score_texts(toks, toks)
    assert s.f1 == 1.0 and s.matched == 300


def test_unicode_nfc_normalization():
    # e + combining acute vs precomposed é must match
    s = score_texts("café", "café")
    assert s.f1 == 1.0


def _lcs_dp(a, b):
    """Textbook O(n*m) LCS length, the independent reference."""
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j, y in enumerate(b):
            cur.append(prev[j] + 1 if x == y else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


_tokens = st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=40)


@settings(max_examples=500, deadline=None)
@given(_tokens, _tokens)
def test_lcs_equals_dp_reference(a, b):
    assert lcs_matched(a, b) == _lcs_dp(a, b)
    assert lcs_matched(b, a) == _lcs_dp(a, b)


def test_lcs_counts_what_matching_blocks_miss():
    # matching blocks take the first longest block ("a" ~ "a") and then
    # find nothing on either side of it: 1; the LCS is "b a": 2
    assert lcs_matched(["a", "b", "a"], ["b", "c", "a"]) == 2
