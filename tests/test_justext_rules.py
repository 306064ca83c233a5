"""Unit tests for context-free rules + context-sensitive smoothing
(SURVEY.md Appendix A)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from text_extraction_evaluation_spark.algo.htmlseg import Paragraph
from text_extraction_evaluation_spark.algo.justext import (
    BAD,
    GOOD,
    NEARGOOD,
    SHORT,
    classify,
    classify_context_free,
    extract_text,
    revise_classification,
)
from text_extraction_evaluation_spark.algo.params import DEFAULT_PARAMS, JustextParams

STOP = frozenset({"the", "a", "join", "hash", "row", "batch", "scan", "column"})


def para(text, links=0, path="body.p", heading=False):
    # ``path`` is a dotted dom path; the select rule reads its parts
    p = Paragraph(in_select="select" in path.split("."), heading=heading)
    p.chunks = [text]
    p.chars_count_in_links = links
    return p


def cf(text, **kw):
    cls, _, _ = classify_context_free(para(text, **kw), STOP, DEFAULT_PARAMS)
    return cls


def long_stopworded(n=60):
    # alternating stop/non-stop -> swd = 0.5 >= 0.32; length > 200
    return " ".join(("the" if i % 2 else "content") for i in range(n))


def test_high_link_density_bad():
    assert cf("x" * 100, links=90) == "bad"


def test_copyright_bad():
    assert cf("fine long paragraph " * 10 + "\xa9 portal") == "bad"
    assert cf("fine long paragraph " * 10 + "&copy portal") == "bad"


def test_select_ancestor_bad():
    p = para(long_stopworded(), path="body.form.select.option")
    cls, _, _ = classify_context_free(p, STOP, DEFAULT_PARAMS)
    assert cls == "bad"


def test_short_no_links_is_short():
    assert cf("tiny words here") == "short"


def test_short_with_links_is_bad():
    assert cf("tiny words here", links=3) == "bad"


def test_high_swd_long_is_good():
    assert cf(long_stopworded()) == "good"


def test_high_swd_midlength_is_neargood():
    text = " ".join(("the" if i % 2 else "word") for i in range(24))  # ~100 chars
    assert len(text) > 70 and len(text) <= 200
    assert cf(text) == "neargood"


def test_low_swd_long_is_bad():
    assert cf("wordone wordtwo wordthree " * 12) == "bad"


def test_mid_swd_is_neargood():
    # 5/16 stopwords = 0.3125 in [0.30, 0.32)
    words = ["the"] * 5 + ["verylongcontentword"] * 11
    text = " ".join(words)
    assert len(text) >= 70
    assert cf(text) == "neargood"


# --- smoothing -------------------------------------------------------------


def smooth(classes, paragraphs=None):
    ps = paragraphs or [para("x" * 80) for _ in classes]
    return revise_classification(ps, classes, DEFAULT_PARAMS)


def test_short_between_goods_becomes_good():
    assert smooth(["good", "short", "good"]) == ["good", "good", "good"]


def test_short_between_bads_becomes_bad():
    assert smooth(["bad", "short", "bad"]) == ["bad", "bad", "bad"]


def test_short_at_boundary_neighbour_defaults_bad():
    # prev neighbour of index 0 is the boundary -> 'bad'
    assert smooth(["short", "bad"]) == ["bad", "bad"]


def test_short_mixed_with_neargood_on_bad_side_becomes_good():
    # prev decisive = bad, but immediate prev (not ignoring neargood) is
    # neargood -> good
    got = smooth(["bad", "neargood", "short", "good"])
    assert got[2] == "good"


def test_neargood_between_bads_becomes_bad():
    assert smooth(["bad", "neargood", "bad"]) == ["bad", "bad", "bad"]


def test_neargood_next_to_good_becomes_good():
    assert smooth(["good", "neargood", "bad"])[1] == "good"


def test_heading_rescue_within_distance():
    ps = [para("Short Title", heading=True), para(long_stopworded())]
    got = revise_classification(ps, ["short", "good"], DEFAULT_PARAMS)
    assert got[0] == "good"  # short->neargood (pre-pass) -> good (neargood pass)


def test_heading_not_rescued_beyond_distance():
    filler = para("f" * 300)  # distance > max_heading_distance before good
    ps = [para("Short Title", heading=True), filler, para(long_stopworded())]
    got = revise_classification(ps, ["short", "bad", "good"], DEFAULT_PARAMS)
    assert got[0] == "bad"


def test_classify_no_stoplist_mode():
    # unknown lang -> empty stoplist -> thresholds zeroed: long paragraph
    # with zero stopwords is GOOD
    ps = [para("wordcontent " * 25)]
    got = classify(ps, "zh")
    assert got[0].class_final == "good"


def test_extract_text_end_to_end():
    html = (
        "<body><div><a href='/'>nav nav nav</a></div>"
        f"<p>{long_stopworded()}</p>"
        "<div>\xa9 2024 footer</div></body>"
    )
    res = extract_text(html, "en", stoplists={"en": STOP})
    assert res.status == "ok"
    assert res.text == long_stopworded()
    assert res.n_good == 1


# --- equivalence with the quadratic smoothing it replaced -------------------


def _reference_get_neighbour(i, classes, ignore_neargood, inc, boundary):
    """Verbatim copy of the pre-sweep ``_get_neighbour``."""
    while i + inc != boundary:
        i += inc
        c = classes[i]
        if c in (GOOD, BAD):
            return c
        if c == NEARGOOD and not ignore_neargood:
            return c
    return BAD


def _reference_revise_classification(paragraphs, cf_classes, params):
    """Verbatim copy of the ``_get_neighbour``-based smoothing, kept as
    the oracle for the linear sweeps (the parity oracle shares algo/,
    so it cannot catch a drift here)."""
    _get_neighbour = _reference_get_neighbour
    n = len(paragraphs)
    classes = list(cf_classes)

    if not params.no_headings:
        for i, p in enumerate(paragraphs):
            if not (p.heading and classes[i] == SHORT):
                continue
            j = i + 1
            distance = 0
            while j < n and distance <= params.max_heading_distance:
                if classes[j] == GOOD:
                    classes[i] = NEARGOOD
                    break
                distance += len(paragraphs[j].text)
                j += 1

    new_classes: dict[int, str] = {}
    for i in range(n):
        if classes[i] != SHORT:
            continue
        prev = _get_neighbour(i, classes, True, -1, -1)
        nxt = _get_neighbour(i, classes, True, 1, n)
        neighbours = {prev, nxt}
        if neighbours == {GOOD}:
            new_classes[i] = GOOD
        elif neighbours == {BAD}:
            new_classes[i] = BAD
        # it is enough to have a neargood on the bad side:
        elif (prev == BAD and _get_neighbour(i, classes, False, -1, -1) == NEARGOOD) or (
            nxt == BAD and _get_neighbour(i, classes, False, 1, n) == NEARGOOD
        ):
            new_classes[i] = GOOD
        else:
            new_classes[i] = BAD
    for i, c in new_classes.items():
        classes[i] = c

    for i in range(n):
        if classes[i] != NEARGOOD:
            continue
        prev = _get_neighbour(i, classes, True, -1, -1)
        nxt = _get_neighbour(i, classes, True, 1, n)
        classes[i] = BAD if (prev == BAD and nxt == BAD) else GOOD

    if not params.no_headings:
        for i, p in enumerate(paragraphs):
            if not (p.heading and classes[i] == BAD and cf_classes[i] != BAD):
                continue
            j = i + 1
            distance = 0
            while j < n and distance <= params.max_heading_distance:
                if classes[j] == GOOD:
                    classes[i] = GOOD
                    break
                distance += len(paragraphs[j].text)
                j += 1

    return classes


_block = st.tuples(
    st.sampled_from([GOOD, BAD, SHORT, NEARGOOD]),
    st.booleans(),  # heading
    st.integers(1, 120),  # text length
)


@settings(max_examples=500, deadline=None)
@given(st.lists(_block, max_size=80), st.booleans())
def test_sweeps_equal_reference_smoothing(blocks, no_headings):
    ps = [para("w" * length, heading=heading) for _, heading, length in blocks]
    cf_classes = [cls for cls, _, _ in blocks]
    params = JustextParams(no_headings=no_headings)
    assert revise_classification(ps, cf_classes, params) == (
        _reference_revise_classification(ps, cf_classes, params)
    )
