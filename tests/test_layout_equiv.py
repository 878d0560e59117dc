"""Property tests: the layout engine is byte-equal to the oracle,
and clustering is invariant under input permutation (the reference sorts
first, so detection order must not matter except for exact-tie stability).
"""

import json
import random

import pytest

from ocr_image_to_text_spark import pyref
from ocr_image_to_text_spark.operators.htmlx import extract_html_one
from ocr_image_to_text_spark.operators.layout import extract_boxes_json
from ocr_image_to_text_spark.transcripts import (
    BOX_FIXTURES,
    _boxes_fixture,
    _boxes_payload,
    _html_payload,
    _plain_payload,
)


@pytest.mark.parametrize("variant", ["v1", "v2", "v3", "xycut"])
def test_random_payloads_match_oracle(variant):
    rng = random.Random(123)
    for _ in range(300):
        payload = _boxes_payload(rng)
        obj = json.loads(payload)
        kept = pyref.conf_filter(obj["boxes"])
        want = pyref.format_with_layout(kept, obj["h"], variant)
        got, n_kept, n_dropped, _tflag, flat, avg_x1e9 = extract_boxes_json(payload, variant)
        assert got == want
        assert n_kept == len(kept)
        assert n_dropped == len(obj["boxes"]) - len(kept)
        assert flat == pyref.flat_concat(kept)
        import math
        assert avg_x1e9 == int(math.floor(pyref.avg_confidence(obj["boxes"]) * 1e9 + 0.5))


@pytest.mark.parametrize("case", BOX_FIXTURES)
@pytest.mark.parametrize("variant", ["v1", "v2", "v3", "xycut"])
def test_fixture_payloads_match_oracle(case, variant):
    payload = _boxes_fixture(case)
    obj = json.loads(payload)
    kept = pyref.conf_filter(obj["boxes"])
    want = pyref.format_with_layout(kept, obj["h"], variant)
    assert extract_boxes_json(payload, variant)[0] == want


def test_permutation_invariance_when_keys_distinct():
    # With strictly distinct sort keys the output is order-independent.
    rng = random.Random(7)
    for _ in range(50):
        payload = _boxes_payload(rng)
        obj = json.loads(payload)
        base = extract_boxes_json(payload, "v2")[0]
        boxes = obj["boxes"]
        cys = [(b[0][0][1] + b[0][2][1]) / 2 for b in boxes]
        if len(set(cys)) != len(cys):
            continue  # exact center ties fall back to input-order stability
        for _ in range(3):
            rng.shuffle(boxes)
            shuffled = json.dumps({"h": obj["h"], "w": obj["w"], "boxes": boxes})
            assert extract_boxes_json(shuffled, "v2")[0] == base


def test_html_random_match_oracle():
    rng = random.Random(321)
    for _ in range(300):
        h = _html_payload(rng)
        blocks, dropped = pyref.extract_html_blocks(h)
        assert extract_html_one(h) == ("\n".join(blocks), len(blocks), dropped)


def test_cleaning_idempotent_on_ascii():
    # X1/X2 are NOT idempotent on non-ASCII input (bug-faithful: the
    # non-ASCII strip runs after whitespace collapse, so "a 中 b" → "a  b").
    # On ASCII input both cleaners are fixed points after one application.
    rng = random.Random(55)
    for _ in range(200):
        p = "".join(ch for ch in _plain_payload(rng) if ord(ch) < 128)
        once = pyref.preprocess_text(p)
        assert pyref.preprocess_text(once) == once
        c1 = pyref.clean_extracted_text(p)
        assert pyref.clean_extracted_text(c1) == c1


def test_cleaning_non_idempotence_documented():
    # pin the bug-faithful behavior so a "fix" would be caught
    assert pyref.preprocess_text("a 中 b") == "a  b"


@pytest.mark.parametrize("n", [63, 64, 65, 300])
@pytest.mark.parametrize("variant", ["v1", "v2", "v3"])
def test_small_and_large_paths_agree_with_oracle(n, variant):
    """Turns on both sides of 64 tokens, where the engine once switched
    from a list path to a numpy path, and a 300-token page, equal the
    oracle."""
    rng = random.Random(1000 + n)
    boxes = []
    for i in range(n):
        x = rng.uniform(0, 800)
        y = rng.uniform(0, 600)
        w = rng.uniform(5, 40)
        h = rng.uniform(5, 14)
        conf = rng.uniform(0.0, 1.0)
        boxes.append([[[x, y], [x + w, y], [x + w, y + h], [x, y + h]],
                      f"w{i}", conf])
    payload = json.dumps({"h": 600, "w": 800, "boxes": boxes})
    obj = json.loads(payload)
    kept = pyref.conf_filter(obj["boxes"])
    want = pyref.format_with_layout(kept, obj["h"], variant)
    got = extract_boxes_json(payload, variant)
    assert got[0] == want
    assert got[3] == pyref.detect_table_spacing(
        [(b[0][0][1] + b[0][2][1]) / 2 for b in obj["boxes"]])


def test_table_flag_matches_oracle_at_even_spacing_boundary():
    """A dense, evenly spaced page whose centre gaps alternate 7 and 21
    px has std == mean/2 in exact arithmetic, so the flag turns on the
    rounding of the mean and variance sums. The engine must fold them
    left to right like the oracle: numpy's pairwise summation flagged
    this page as a table."""
    y, boxes = 27.378761949741637, []
    for i in range(65):
        boxes.append([[[40, y - 8], [80, y - 8], [80, y + 8], [40, y + 8]],
                      f"t{i}", 0.9])
        y += 7.0 if i % 2 == 0 else 21.0
    payload = json.dumps({"h": 2000, "w": 800, "boxes": boxes})
    want = pyref.extract_turn("", payload)["table_flag"]
    assert want is False
    assert extract_boxes_json(payload)[3] == want


def test_xycut_reads_two_column_column_major():
    """The engine-addition claim itself: XY-cut emits the left column
    fully before the right one where every line-clustering variant
    interleaves the two columns line by line."""
    payload = _boxes_fixture("two_column")
    obj = json.loads(payload)
    kept = pyref.conf_filter(obj["boxes"])
    xy = extract_boxes_json(payload, "xycut")[0]
    assert xy == pyref.format_with_layout_xycut(kept, obj["h"])
    assert xy != pyref.format_with_layout(kept, obj["h"], "v2")
    lines = xy.split("\n")
    feat = [i for i, l in enumerate(lines) if "feature" in l]
    cap = [i for i, l in enumerate(lines) if "capabilit" in l.lower()]
    assert feat and cap and max(feat) < min(cap)


def _la_tuple(d: dict) -> tuple:
    return (d["total_elements"], d["line_groups"], d["n_columns"],
            d["n_titles"], d["n_bullets"], d["n_numbered"])


def test_layout_analysis_random_matches_twin():
    """Engine layout_analysis_json == naive pyref twin on random payloads
    (covers empty-kept turns, single-token turns, arbitrary geometry)."""
    from ocr_image_to_text_spark.operators.layout import layout_analysis_json

    rng = random.Random(424)
    for _ in range(300):
        payload = _boxes_payload(rng)
        obj = json.loads(payload)
        want = _la_tuple(pyref.layout_analysis(obj["boxes"], obj["h"]))
        assert layout_analysis_json(payload) == want


@pytest.mark.parametrize("n", [63, 64, 65, 300])
def test_layout_analysis_small_and_large_paths_agree(n):
    """_column_count equals the naive twin on turns on both sides of 64
    tokens (the former list/numpy switch) and on a 300-token page."""
    from ocr_image_to_text_spark.operators.layout import layout_analysis_json

    rng = random.Random(4240 + n)
    boxes = []
    for i in range(n):
        x = rng.uniform(0, 800)
        y = rng.uniform(0, 600)
        boxes.append([[[x, y], [x + 30, y], [x + 30, y + 12], [x, y + 12]],
                      f"w{i}", rng.uniform(0.0, 1.0)])
    payload = json.dumps({"h": 600, "w": 800, "boxes": boxes})
    want = _la_tuple(pyref.layout_analysis(boxes, 600))
    assert layout_analysis_json(payload) == want


def test_layout_analysis_structured_document_counts():
    """Positive pinning of every structure rule on a document shaped like
    the reference's test_precision_layout.py fixture (title + bulleted
    column + numbered column): the corpus exercises columns heavily but
    titles/bullets/numbered only rarely, so this fixture is the
    non-vacuity proof for those counters."""
    from ocr_image_to_text_spark.operators.layout import layout_analysis_json

    boxes = []

    def add(x, y, w, text):
        boxes.append([[[x, y], [x + w, y], [x + w, y + 14], [x, y + 14]],
                      text, 0.9])

    add(50, 30, 300, "PRECISION LAYOUT TEST DOCUMENT")
    add(50, 80, 80, "Features:")
    add(420, 80, 100, "Capabilities:")
    feats = ["• Multi-engine OCR integration",
             "• Precision layout preservation", "• Column detection",
             "• Text structure analysis", "• Format conversion"]
    caps = ["1. EasyOCR engine", "2. PaddleOCR engine",
            "3. Tesseract fallback", "4. HTML output",
            "5. Markdown conversion"]
    # column rows offset by 13px so v2 (tol 10 at h=600) keeps each row
    # its own line group instead of interleaving col1+col2 tokens
    for i, t in enumerate(feats):
        add(50, 110 + 25 * i, 200, t)
    for i, t in enumerate(caps):
        add(420, 123 + 25 * i, 140, t)
    payload = json.dumps({"h": 600, "w": 800, "boxes": boxes})
    got = layout_analysis_json(payload)
    # 13 kept tokens; lines: [title], [Features: Capabilities:], 10 rows;
    # x-projection: col1 spans [50,350], col2 [420,560] → gap 70 > 56
    assert got == (13, 12, 2, 1, 5, 5)
    assert got == _la_tuple(pyref.layout_analysis(boxes, 600))
    # and the conf filter feeds the analysis: drop-everything payload
    low = json.dumps({"h": 600, "w": 800, "boxes": [
        [[[0, 0], [10, 0], [10, 10], [0, 10]], "XYZ", 0.1]]})
    assert layout_analysis_json(low) == (0, 0, 0, 0, 0, 0)


def test_xycut_random_scatter_matches_twin():
    """Scattered boxes produce arbitrary gap structure — deep recursion
    through alternating y/x cuts must stay byte-equal to the naive twin."""
    rng = random.Random(99)
    for _ in range(200):
        n = rng.randint(1, 40)
        boxes = []
        for i in range(n):
            x = rng.uniform(0, 700)
            y = rng.uniform(0, 560)
            w = rng.uniform(8, 120)
            h = rng.uniform(8, 24)
            boxes.append(
                [[[x, y], [x + w, y], [x + w, y + h], [x, y + h]],
                 f"t{i}", 0.9])
        payload = json.dumps({"h": 600, "w": 800, "boxes": boxes})
        want = pyref.format_with_layout_xycut(boxes, 600)
        assert extract_boxes_json(payload, "xycut")[0] == want
