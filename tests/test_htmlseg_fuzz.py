"""Fuzz cross-check: the fast regex scanner and the stdlib-HTMLParser
front-end must segment identically on generated HTML-ish inputs
(structured generator + adversarial corner cases), and the O(1)
``in_select`` flag must equal the dom-path rule it replaced."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from text_extraction_evaluation_spark.algo.htmlseg import (
    _TAG_RE,
    _fast_scan,
    _HtmlParserSegmenter,
    _SegmenterCore,
    segment,
)

# dotted names are valid tag names to both scanners; ``a.select`` and
# ``select.x`` exercise the dotted-select quirk of the in_select flag
TAGS = ["p", "div", "span", "a", "b", "h2", "li", "ul", "table", "td",
        "select", "option", "em", "br", "script", "style", "a.select",
        "select.x"]
WORDS = ["alpha", "beta", "gamma", "delta", "the", "a", "join", "&amp;",
         "©", "x<y", "a&b", "  ", "tail"]


@st.composite
def html_doc(draw):
    parts = []
    depth = 0
    for _ in range(draw(st.integers(1, 30))):
        kind = draw(st.integers(0, 5))
        tag = draw(st.sampled_from(TAGS))
        if kind == 0:
            parts.append(f"<{tag}>")
            depth += 1
        elif kind == 1:
            parts.append(f"</{tag}>")
        elif kind == 2:
            parts.append(" ".join(draw(st.lists(st.sampled_from(WORDS), min_size=1, max_size=8))))
        elif kind == 3:
            parts.append(f'<{tag} class="x" href="/y">')
        elif kind == 4:
            parts.append("<br>")
        else:
            parts.append("<!-- comment -->")
    return "".join(parts)


def _sig(paragraphs):
    # compares the select flag, the only part of the former dom path
    # the classifier read; the path itself is no longer built
    return [
        (p.text, p.in_select, p.heading, p.chars_count_in_links)
        for p in paragraphs
    ]


class _PathRecordingCore(_SegmenterCore):
    """Records each paragraph's dom path the way the segmenter used to
    build it, ``".".join(stack)`` at paragraph creation."""

    def __init__(self):
        super().__init__()
        self.paths = {}

    def _ensure(self):
        if self._cur is None:
            self.paths[id(super()._ensure())] = ".".join(self.stack)
        return self._cur


def _assert_in_select_matches_dom_path_rule(doc):
    for engine in ("fast", "stdlib"):
        core = _PathRecordingCore()
        if engine == "fast":
            _fast_scan(doc, core)
        else:
            parser = _HtmlParserSegmenter(core)
            parser.feed(doc)
            parser.close()
        core.finish()
        for p in core.paragraphs:
            assert p.in_select == ("select" in core.paths[id(p)].split(".")), (engine, doc)


@settings(max_examples=300, deadline=None)
@given(html_doc())
def test_fast_equals_stdlib(doc):
    # terminator guarantees no EOF-truncated markup (the one documented
    # divergence: HTML5/fast drops it, stdlib emits it as data)
    doc = doc + "<p>terminator</p>"
    assert _sig(segment(doc, "fast")) == _sig(segment(doc, "stdlib"))
    _assert_in_select_matches_dom_path_rule(doc)


CORNERS = [
    "",
    "plain text only",
    "<p>a</p><p>b</p>",
    "<script>var a = '<p>not a para</p>';</script><p>real</p>",
    "<style>p::before{content:'<x>'}</style><p>real</p>",
    "<p>a &amp; b &copy; &lt;tag&gt;</p>",
    "<p>unclosed <div>nested",
    "<a href='/x'>link <b>bold</b></a> tail",
    "<p>a<br><br>b</p>",
    "<br><br><br>",
    "<P>UPPER</P><DiV>mixed</dIv>",
    "<p>self-closed<br/></p>",
    "<select><option>o1<option>o2</select>",
    "<td>cell</td></tr></table>stray closes",
    "<h2>head</h2><p>body text here</p>",
    "<div class='q\"uote'>attr quotes</div>",
    "<p>math a<b and c>d</p>",
    "<p>ends with open tag <",
    "<p>tab\tand\nnewline  spaces</p>",
    "<textarea><p>raw</p></textarea><p>after</p>",
    "<title>the title</title><p>after title</p>",
    "</ bogus><p>after bogus</p>",
    "<?php echo '<p>x</p>'; ?><p>after pi</p>",
    "<!DOCTYPE html><p>after doctype</p>",
    "<a.select><p>dotted select</p></a.select><p>after</p>",
    "<select.x>dotted<selectx>not select</select.x>out",
    "<select><b>in</select><p>out</p>",
]


def test_corner_cases_agree():
    for doc in CORNERS:
        assert _sig(segment(doc, "fast")) == _sig(segment(doc, "stdlib")), doc
        _assert_in_select_matches_dom_path_rule(doc)


def test_eof_truncated_markup_dropped_html5_style():
    # documented divergence from the stdlib front-end: unterminated
    # markup at EOF is dropped (HTML5), not emitted as text
    assert _sig(segment("<p>kept</p><p>tail <div", "fast")) == [
        ("kept", False, False, 0), ("tail", False, False, 0)
    ]
    assert _sig(segment("<!-- unterminated <p>hidden</p>", "fast")) == []


# The tag pattern before its attribute quantifiers were made possessive:
# same matches, but exponential backtracking on a tag left open at EOF.
_BACKTRACKING_TAG_RE = re.compile(
    r"""<(?:
        (?P<comment>!--)
      | [!?][^>]*>
      | (?P<end>/)?(?P<tag>[a-zA-Z][^\t\n\r\f\ />\x00]*)
        (?P<attrs>(?:[^>"']+|"[^"]*"|'[^']*')*)>
    )""",
    re.X,
)


@settings(max_examples=1000, deadline=None)
@given(st.text(alphabet='<>/!"\' =ab-', max_size=14))
def test_possessive_tag_pattern_matches_like_backtracking_one(tail):
    doc = "<" + tail
    old, new = _BACKTRACKING_TAG_RE.match(doc), _TAG_RE.match(doc)
    assert (old is None) == (new is None), doc
    if old is not None:
        assert old.span() == new.span() and old.groupdict() == new.groupdict(), doc
