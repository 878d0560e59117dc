"""HTML main-content extraction — Spark-side implementation.

Implements the engine's deterministic DOM text-density / link-density
boilerplate-strip spec (defined with the oracle in pyref.extract_html_blocks;
tag sets are shared spec constants). This is a from-scratch implementation
structured for batch execution — depth counters maintained incrementally
instead of stack scans — and is verified against the oracle by tests.

Reference analog: the adaptive-threshold / noise-strip image preprocessing
(src/ocr_module.py:78-89) whose transcript-domain analog is tag/script/style
stripping + block scoring (SURVEY.md §2.9); block cleaning is X1
(ocr_app/utils/text_utils.py:12-34).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from ..pyref import BLOCK_TAGS, DROP_CONTAINER_TAGS, LINK_DENSITY_MAX, RAW_SKIP_TAGS

_WS = re.compile(r"\s+")
_NL3 = re.compile(r"\n{3,}")
_NON_ASCII = re.compile(r"[^\x00-\x7F]+")


def clean_block(raw: str) -> str:
    """X1 cleaning applied to one block (Python `re` — oracle-identical)."""
    if not raw:
        return ""
    return _NON_ASCII.sub("", _NL3.sub("\n\n", _WS.sub(" ", raw))).strip()


class _Collector(HTMLParser):
    __slots__ = ("_open", "_skip", "_drop", "_a", "_buf", "_chars", "_link",
                 "_in_drop", "blocks")

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._open: list[str] = []
        self._skip = 0
        self._drop = 0
        self._a = 0
        self._buf: list[str] = []
        self._chars = 0
        self._link = 0
        self._in_drop = False
        self.blocks: list[tuple[str, int, int, bool]] = []

    def _flush(self) -> None:
        if self._buf:
            self.blocks.append(("".join(self._buf), self._chars, self._link, self._in_drop))
            self._buf = []
        self._chars = 0
        self._link = 0
        self._in_drop = False

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in BLOCK_TAGS:
            self._flush()
        self._open.append(tag)
        if tag in RAW_SKIP_TAGS:
            self._skip += 1
        if tag in DROP_CONTAINER_TAGS:
            self._drop += 1
        if tag == "a":
            self._a += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in BLOCK_TAGS:
            self._flush()
        open_ = self._open
        for i in range(len(open_) - 1, -1, -1):
            if open_[i] == tag:
                for t in open_[i:]:  # implicit closes adjust counters too
                    if t in RAW_SKIP_TAGS:
                        self._skip -= 1
                    if t in DROP_CONTAINER_TAGS:
                        self._drop -= 1
                    if t == "a":
                        self._a -= 1
                del open_[i:]
                break

    def handle_data(self, data: str) -> None:
        if self._skip:
            return
        self._buf.append(data)
        n = len(data.strip())
        self._chars += n
        if self._a:
            self._link += n
        if self._drop:
            self._in_drop = True


# ---------------------------------------------------------------------------
# Guarded fast scanner
#
# The stdlib HTMLParser spends >90% of the html branch inside its
# goahead/parse_starttag machinery (profiled at the bench tier). For the
# strict well-formed subset below, a regex token scan drives the SAME
# _Collector callbacks ~4x faster; ANY construct outside the subset bails
# to the stdlib parser, so semantics can never diverge — the fast path
# only ever handles inputs where it is provably equivalent:
#   * no '&' anywhere (charref conversion stays stdlib-only)
#   * every '<' starts a tag matching _START_RE/_END_RE (no comments/
#     doctype/PI,
#     no stray '<', no unterminated tags)
#   * <script>/<style> content is RAWDATA up to the real end tag
#     (matching HTMLParser's CDATA_CONTENT_ELEMENTS — noscript is NOT
#     rawdata in the stdlib parser and is not treated so here)
#   * '<br/>' self-close = starttag + endtag (HTMLParser's default
#     handle_startendtag)
# Equivalence is pinned by tests/test_htmlx_fast.py (fixtures + fuzz).
# ---------------------------------------------------------------------------

# Attribute grammar mirrors CPython's attrfind_tolerant: a quoted span is
# honored ONLY in attribute-VALUE position (after '='). A bare quote
# anywhere else fails the match and bails — CPython would end the tag at
# the first '>' there (e.g. "<b '>'>" is tag `b` + data "'>'"), so letting
# the quote span '>' silently diverges (round-2 fuzz counterexample).
# The bare-value class INCLUDES '/' because CPython's bare value [^>\s]*
# greedily eats it: '<a href=b/>' is a PLAIN start tag with value 'b/',
# while '<br />' is a startend tag ('/' only self-closes when the attr
# grammar leaves it directly before '>').
_START_RE = re.compile(
    r"<([a-zA-Z][^\t\n\r\f />\x00]*)"           # tag name (CPython tagfind class)
    r"((?:\s+[^\s<>\"'=/]+"                     # attr name
    r"(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s<>\"']*))?)*)"  # quotes only after =
    r"\s*(/?)>")
# End tags accept NO attributes: CPython's tolerant parse_endtag resumes
# after the FIRST '>' even when a quoted value contains one ("</p a='>'>")
# — a spanning regex would resume later and diverge, so anything beyond
# `</name [/]>` bails to the stdlib parser.
_END_RE = re.compile(r"</([a-zA-Z][^\t\n\r\f />\x00]*)\s*/?>")
_BAIL = re.compile(r"&|<[^a-zA-Z/]|</(?![a-zA-Z])")
_CDATA_CLOSE = {
    t: re.compile(rf"</\s*{t}", re.IGNORECASE) for t in ("script", "style")
}


def _scan_fast(s: str, c: "_Collector") -> bool:
    """Feed `s` through the collector via regex tokens; False = bail."""
    if _BAIL.search(s):
        return False
    pos = 0
    n = len(s)
    while pos < n:
        lt = s.find("<", pos)
        if lt == -1:
            c.handle_data(s[pos:])
            break
        if lt > pos:
            c.handle_data(s[pos:lt])
        if s.startswith("</", lt):
            me = _END_RE.match(s, lt)
            if not me:
                return False
            c.handle_endtag(me.group(1).lower())
            pos = me.end()
            continue
        m = _START_RE.match(s, lt)
        if not m:
            return False
        name, selfclose = m.group(1).lower(), m.group(3)
        pos = m.end()
        c.handle_starttag(name, ())
        if selfclose:
            c.handle_endtag(name)
        elif name in _CDATA_CLOSE:
            mc = _CDATA_CLOSE[name].search(s, pos)
            if not mc:
                return False  # unterminated rawdata → stdlib semantics
            c.handle_data(s[pos:mc.start()])
            me = _END_RE.match(s, mc.start())
            if not me or me.group(1).lower() != name:
                return False
            c.handle_endtag(name)
            pos = me.end()
    return True


def _finish(c: "_Collector") -> tuple[str, int, int]:
    c._flush()
    kept: list[str] = []
    dropped = 0
    for raw, chars, link, in_drop in c.blocks:
        clean = clean_block(raw)
        if not clean:
            continue
        if in_drop or (chars > 0 and link / chars > LINK_DENSITY_MAX):
            dropped += 1
        else:
            kept.append(clean)
    return "\n".join(kept), len(kept), dropped


def extract_html_stdlib(html_text: str) -> tuple[str, int, int]:
    """Stdlib-HTMLParser path — the arbiter the fast scan must equal. A
    parser error (e.g. `<![foo]>`) raises, as it does in pyref."""
    c = _Collector()
    c.feed(html_text)
    c.close()
    return _finish(c)


def extract_html_one(html_text: str) -> tuple[str, int, int]:
    """Return (extracted_text, n_blocks_kept, n_blocks_dropped)."""
    c = _Collector()
    if _scan_fast(html_text, c):
        return _finish(c)
    return extract_html_stdlib(html_text)
