"""HTML -> ordered paragraph blocks (jusText preprocessing + segmentation).

Reimplements, from the published algorithm description (Pomikalek
2011, "Removing Boilerplate and Duplicate Content from Web Corpora")
and the public ``justext`` package semantics, the DOM preprocessing
and paragraph segmentation the reference harness relied on
(BASELINE.json:6 "DOM block segmentation"). lxml is not available in
this sandbox; two tokenizer front-ends drive ONE shared event core:

* ``engine='fast'`` (default): a quote-aware regex scanner that skips
  attribute parsing and position tracking entirely — measured ~3x the
  stdlib parser on small pages (the stdlib ``HTMLParser`` spends >80%
  of its time in attribute/position machinery we never use);
* ``engine='stdlib'``: ``html.parser.HTMLParser`` — kept as the
  cross-check reference (tests fuzz both and assert identical
  paragraphs).

Pure Python, zero Spark imports — shared by the Arrow kernel and the
parity oracle so segmentation is byte-identical by construction.

Semantics:

* comments, doctypes/PIs and the content of ``script/style/head/
  title/textarea/noscript/iframe/svg/math`` are dropped;
* a new paragraph starts at the open OR close of any block-level tag
  (``PARAGRAPH_TAGS``) and at the second of two consecutive ``<br>``;
* character data inside ``<a>`` accrues ``chars_count_in_links``;
* each paragraph records, at creation time, whether any enclosing
  element is ``select`` (select flag) and whether any is ``h1``-``h6``
  (heading flag). A tag name with dots counts as ``select`` when one of
  its dot-separated parts is ``select`` (``<a.select>``), which keeps
  the flag equal to the dom-path rule it replaced, ``"select" in
  ".".join(stack).split(".")``;
* paragraph text is whitespace-normalized; entity references decoded;
* malformed markup is tolerated: stray close tags are ignored,
  unclosed elements are popped to the nearest matching open tag,
  an unterminated ``<tag ...`` at EOF is dropped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape
from html.parser import HTMLParser

PARAGRAPH_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "body", "caption",
        "center", "col", "colgroup", "dd", "dir", "div", "dl", "dt",
        "fieldset", "figure", "footer", "form", "h1", "h2", "h3", "h4",
        "h5", "h6", "header", "hr", "legend", "li", "main", "menu",
        "nav", "ol", "option", "p", "pre", "section", "select", "table",
        "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
    }
)

_SKIP_CONTENT_TAGS = frozenset(
    {"script", "style", "head", "title", "textarea", "noscript",
     "iframe", "svg", "math"}
)

# true raw-text elements: content is opaque until the matching close
_RAWTEXT_TAGS = frozenset({"script", "style", "textarea", "title"})

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Void elements never get a matching close tag; keep the tag stack sane.
_VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

_WS_RE = re.compile(r"\s+")


def _normalize(text: str) -> str:
    return _WS_RE.sub(" ", text).strip()


@dataclass
class Paragraph:
    """One segmented block, before classification."""

    in_select: bool
    heading: bool
    chunks: list[str] = field(default_factory=list)
    chars_count_in_links: int = 0
    tags_count: int = 0  # non-empty inline markup boundaries seen

    _text: str | None = None
    _words: list[str] | None = None

    @property
    def text(self) -> str:
        if self._text is None:
            self._text = _normalize("".join(self.chunks))
        return self._text

    @property
    def words(self) -> list[str]:
        # cached: the classifier reads words for features AND word_count
        if self._words is None:
            self._words = self.text.split()
        return self._words

    @property
    def link_density(self) -> float:
        length = len(self.text)
        if length == 0:
            return 0.0
        return min(1.0, self.chars_count_in_links / length)

    def is_empty(self) -> bool:
        return not self.text


class _SegmenterCore:
    """Tokenizer-independent event logic (the actual jusText
    segmentation semantics). Both front-ends drive this.

    Perf: open-tag membership and the select and heading flags are
    maintained incrementally (_open_counts / _select_depth /
    _heading_depth) so end-tag handling and paragraph creation are O(1)
    instead of O(stack depth) — the event layer is on the extraction
    kernel's hot path, and a deep unclosed DOM would otherwise make
    segmentation quadratic."""

    __slots__ = ("stack", "paragraphs", "_cur", "_skip_depth",
                 "_link_depth", "_br_pending", "_open_counts",
                 "_select_depth", "_heading_depth")

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.paragraphs: list[Paragraph] = []
        self._cur: Paragraph | None = None
        self._skip_depth = 0
        self._link_depth = 0
        self._br_pending = False
        self._open_counts: dict[str, int] = {}
        self._select_depth = 0
        self._heading_depth = 0

    # -- stack maintenance ---------------------------------------------------
    def _push(self, tag: str) -> None:
        self.stack.append(tag)
        c = self._open_counts
        c[tag] = c.get(tag, 0) + 1
        # split only dotted names: a split per push costs ~10% per doc
        if tag == "select" or ("." in tag and "select" in tag.split(".")):
            self._select_depth += 1
        if tag in _HEADING_TAGS:
            self._heading_depth += 1

    # -- paragraph lifecycle -------------------------------------------------
    def _flush(self) -> None:
        p = self._cur
        if p is not None and not p.is_empty():
            self.paragraphs.append(p)
        self._cur = None
        self._br_pending = False

    def _ensure(self) -> Paragraph:
        if self._cur is None:
            self._cur = Paragraph(
                in_select=self._select_depth > 0, heading=self._heading_depth > 0
            )
        return self._cur

    # -- events ----------------------------------------------------------
    def handle_starttag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT_TAGS:
            self._flush()
            self._skip_depth += 1
            self._push(tag)
            return
        if tag == "br":
            if self._br_pending:
                self._flush()
            else:
                self._br_pending = True
                if self._cur is not None:
                    self._cur.chunks.append(" ")
            return
        if tag in _VOID_TAGS:
            return
        self._push(tag)
        if tag in PARAGRAPH_TAGS:
            self._flush()
        else:
            self._br_pending = False
            if tag == "a":
                self._link_depth += 1
            if self._cur is not None:
                self._cur.tags_count += 1

    def handle_startendtag(self, tag: str) -> None:
        if tag == "br":
            self.handle_starttag(tag)
            return
        if tag in PARAGRAPH_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag == "br" or tag in _VOID_TAGS:
            return
        if tag in _SKIP_CONTENT_TAGS:
            if self._skip_depth > 0:
                self._skip_depth -= 1
            self._pop_until(tag)
            return
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1
        if tag in PARAGRAPH_TAGS:
            self._flush()
        self._pop_until(tag)

    def _pop_until(self, tag: str) -> None:
        # Tolerate malformed nesting: pop to the nearest matching open
        # tag if one exists, else ignore the stray close tag. O(1)
        # membership via the open-tag counts.
        if not self._open_counts.get(tag):
            return
        c = self._open_counts
        while self.stack:
            t = self.stack.pop()
            c[t] -= 1
            if t == "select" or ("." in t and "select" in t.split(".")):
                self._select_depth -= 1
            if t in _HEADING_TAGS:
                self._heading_depth -= 1
            if t == tag:
                break

    def handle_data(self, data: str) -> None:
        if self._skip_depth > 0 or not data:
            return
        if data.isspace():
            # pure whitespace: acts as a separator, never starts a paragraph
            if self._cur is not None:
                self._cur.chunks.append(" ")
            return
        self._br_pending = False
        p = self._ensure()
        p.chunks.append(data)
        if self._link_depth > 0:
            p.chars_count_in_links += len(_WS_RE.sub(" ", data).strip())

    def finish(self) -> None:
        self._flush()


# ---------------------------------------------------------------------------
# Front-end 1: stdlib html.parser (reference / cross-check)
# ---------------------------------------------------------------------------


class _HtmlParserSegmenter(HTMLParser):
    def __init__(self, core: _SegmenterCore) -> None:
        super().__init__(convert_charrefs=True)
        self.core = core

    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        self.core.handle_starttag(tag.lower())

    def handle_startendtag(self, tag, attrs):  # noqa: ANN001
        self.core.handle_startendtag(tag.lower())

    def handle_endtag(self, tag):  # noqa: ANN001
        self.core.handle_endtag(tag.lower())

    def handle_data(self, data):  # noqa: ANN001
        self.core.handle_data(data)

    def handle_comment(self, data):  # noqa: ANN001
        return

    def handle_decl(self, decl):  # noqa: ANN001
        return


# ---------------------------------------------------------------------------
# Front-end 2: fast quote-aware regex scanner
# ---------------------------------------------------------------------------

# A tag: optional '/', a name, then attribute soup where '>' inside
# quotes does not terminate the tag. Comments/decls/PIs handled first.
# The attribute alternatives start with disjoint characters, so the soup
# parses one way only and possessive quantifiers match the same tags;
# without them a tag left open at EOF backtracks over every split of
# its `[^>"']` runs, exponential in the length of the tail.
_TAG_RE = re.compile(
    r"""<(?:
        (?P<comment>!--)
      | [!?][^>]*>
      | (?P<end>/)?(?P<tag>[a-zA-Z][^\t\n\r\f\ />\x00]*)   # stdlib tagfind-compatible
        (?P<attrs>(?:[^>"']++|"[^"]*+"|'[^']*+')*+)>
    )""",
    re.X,
)
_COMMENT_END_RE = re.compile(r"-->")

# precompiled close-tag patterns for the rawtext elements (hot path:
# one search per <script>/<style>/... occurrence)
_RAWTEXT_CLOSE_RES = {
    t: re.compile(rf"</{t}\s*>", re.I) for t in _RAWTEXT_TAGS
}


def _fast_scan(text: str, core: _SegmenterCore) -> None:
    pos = 0
    n = len(text)
    find_lt = text.find
    while pos < n:
        lt = find_lt("<", pos)
        if lt < 0:
            data = text[pos:]
            core.handle_data(unescape(data) if "&" in data else data)
            break
        if lt > pos:
            data = text[pos:lt]
            core.handle_data(unescape(data) if "&" in data else data)
        nxt = lt + 1
        if nxt < n and text[nxt] == "/" and (nxt + 1 >= n or not text[nxt + 1].isalpha()):
            # bogus end tag `</ ...` / `</>`: drop through next '>'
            gt = text.find(">", nxt)
            pos = n if gt < 0 else gt + 1
            continue
        m = _TAG_RE.match(text, lt)
        if m is None:
            if nxt < n and (text[nxt].isalpha() or text[nxt] in "!?/"):
                # markup truncated at EOF (no closing '>'): HTML5 drops
                # it (documented divergence: stdlib emits it as data)
                break
            # lone '<' (e.g. "a < b"): it is character data
            core.handle_data("<")
            pos = lt + 1
            continue
        # one C call for all four groups (hot path: one per tag)
        comment, end, tag, attrs = m.group("comment", "end", "tag", "attrs")
        if comment:
            cm = _COMMENT_END_RE.search(text, m.end())
            pos = n if cm is None else cm.end()
            continue
        if tag is None:  # decl / PI: dropped
            pos = m.end()
            continue
        tag = tag.lower()
        attrs = attrs or ""
        pos = m.end()
        if end:
            core.handle_endtag(tag)
        elif attrs.rstrip().endswith("/"):
            core.handle_startendtag(tag)
        else:
            core.handle_starttag(tag)
            if tag in _RAWTEXT_TAGS:
                # opaque content until the matching close tag; search
                # from pos on the original string (slicing the tail
                # would copy the rest of the document per rawtext
                # element — O(n) per <script>/<style>)
                close = _RAWTEXT_CLOSE_RES[tag].search(text, pos)
                if close is None:
                    core.handle_endtag(tag)  # unterminated: drop rest
                    pos = n
                else:
                    core.handle_endtag(tag)
                    pos = close.end()


def segment(html_text: str, engine: str = "fast") -> list[Paragraph]:
    """Parse ``html_text`` and return the ordered non-empty paragraphs.

    ``engine='fast'`` (default) and ``engine='stdlib'`` produce
    identical output (fuzz-tested); the fast scanner is ~3x quicker.
    A scanner failure propagates: the extractors turn it into
    ``status='parse_error'`` instead of returning truncated text.
    """
    core = _SegmenterCore()
    if engine == "stdlib":
        parser = _HtmlParserSegmenter(core)
        parser.feed(html_text)
        parser.close()
    else:
        _fast_scan(html_text, core)
    core.finish()
    return core.paragraphs
