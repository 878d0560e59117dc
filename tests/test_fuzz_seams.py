"""Fuzz the two-implementation seams on adversarial inputs.

The sf0.01 oracle sweep covers well-formed payloads; these tests attack
the seams where an engine implementation and the pyref oracle must agree
on ARBITRARY input:

  * HTML block extraction: operators/htmlx._Collector (incremental depth
    counters) vs pyref._BlockCollector (the spec) on malformed markup —
    unclosed tags, stray end tags, nested drops, script soup, and markup
    HTMLParser rejects (both sides must raise);
  * boxes payloads pyref cannot read (truncated JSON, `"boxes": null`):
    the engine decoders raise, as the oracle does;
  * kind classification: the JVM rlike sniffers (kind_col) vs
    pyref.classify_kind on hostile strings (checked in one Spark pass).
"""

from __future__ import annotations

import json
import random

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_image_to_text_spark import pyref
from ocr_image_to_text_spark.operators.htmlx import extract_html_one
from ocr_image_to_text_spark.operators.layout import (
    extract_boxes_json,
    layout_analysis_json,
)

TAGS = ["p", "div", "a", "nav", "footer", "span", "li", "ul", "script",
        "style", "table", "h1", "br", "aside", "main", "b", "custom"]


@st.composite
def html_soup(draw):
    n = draw(st.integers(1, 30))
    rng = random.Random(draw(st.integers(0, 2**32)))
    parts = []
    for _ in range(n):
        k = rng.random()
        t = rng.choice(TAGS)
        if k < 0.3:
            parts.append(f"<{t}>")
        elif k < 0.5:
            parts.append(f"</{t}>")          # possibly unmatched
        elif k < 0.55:
            parts.append(f"<{t} href='x' broken")  # malformed open
        else:
            parts.append(rng.choice([
                "hello world", "  ", "link text", "第",
                "a" * rng.randint(1, 40), "&amp; &lt;", "\n\n",
                "click <a href='#'>here</a> now", "<![foo bar]>",
            ]))
    return "".join(parts)


def _outcome(fn, *args):
    """fn's result, or the type of the exception it raised: an engine
    kernel must equal its oracle or raise as the oracle does."""
    try:
        return fn(*args)
    except Exception as e:
        return type(e)


def _pyref_html(html):
    exp = pyref.extract_turn(html, "", variant="v2")
    return exp["extracted_text"], exp["n_blocks_kept"], exp["n_blocks_dropped"]


@given(html_soup())
@example("<div>a<![foo bar]>b</div>")
@settings(max_examples=300, deadline=None)
def test_html_extractor_matches_pyref_on_soup(html):
    # pyref.extract_turn classifies first; force the html path comparison
    if pyref.classify_kind(html, "") != "html":
        return
    assert _outcome(extract_html_one, html) == _outcome(_pyref_html, html)


_BOX = [[[10, 10], [60, 10], [60, 30], [10, 30]], "word", 0.9]
MALFORMED_BOXES = [
    json.dumps({"h": 600, "boxes": [_BOX, _BOX]})[:-9],  # truncated
    '{"h": 600, "boxes": [',
    '{"h": 600, "boxes": null}',
]


@pytest.mark.parametrize("payload", MALFORMED_BOXES)
def test_unreadable_boxes_payload_raises_like_pyref(payload):
    """A boxes payload pyref rejects makes both engine decoders raise the
    same error, instead of returning an empty page."""
    def turn(p):
        return pyref.extract_turn("", p, variant="v2")["extracted_text"]

    def analysis(p):
        obj = json.loads(p)
        return pyref.layout_analysis(obj.get("boxes", []), obj.get("h", 0))

    want = _outcome(turn, payload)
    assert isinstance(want, type) and issubclass(want, Exception)
    assert _outcome(extract_boxes_json, payload) == want
    assert _outcome(layout_analysis_json, payload) == _outcome(analysis, payload)


ADVERSARIAL_PAYLOADS = [
    "", " ", "{", "  {", '{"boxes": []}', '{"boxes"', "{boxes}",
    '{"h": 1}', 'x{"boxes": []}', '\n\t{"boxes": [1]}',
    "<p>", "< p>", "<P>hello</P>", "<!doctype html>", "<!DOCTYPE HTML>",
    "<br/>", "<  div>", "<xz>", "<scripty>", "< a href>", "<a\nhref>",
    "plain text", "a < b and c > d", "<3 hearts", "1 <p 2", "<p",
    "<DiV CLASS='x'>", "<html", "{<p>}", '{"boxes": "<div>"}',
    "< p>", "tag <MAIN>", "<nav\t>", "text</div>",
    # unicode whitespace / word-boundary seam cases (Java ASCII \\s and \\b
    # vs Python unicode - caught live by this test)
    "<\xa0p>", "<\u2028div>", "<\u3000table>", "<p\u7b2c>",
    "\x1c{\"boxes\": []}", "\xa0{\"boxes\": []}", "<h1\x85>", "<li\u2009>",
]


def test_kind_classifier_matches_pyref(spark):
    """One Spark pass: JVM kind_col over every adversarial (text, tool)
    combination must equal pyref.classify_kind."""
    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.operators.extract import kind_col

    rows = []
    for t in ADVERSARIAL_PAYLOADS:
        for o in ADVERSARIAL_PAYLOADS:
            rows.append((t, o))
    df = spark.createDataFrame(rows, "text string, tool string")
    got = [r.k for r in df.select(kind_col().alias("k")).collect()]
    exp = [pyref.classify_kind(t, o) for t, o in rows]
    mismatches = [(rows[i], g, e) for i, (g, e) in enumerate(zip(got, exp))
                  if g != e]
    assert not mismatches, mismatches[:5]
