"""Pure-Python oracle: near-literal restatement of the reference semantics.

Every function cites the reference file:line it restates
(/root/reference = Rayyan9477/OCR-Image-to-text @ 2025-06-20). This module
has NO Spark/numpy dependency and defines ground truth for the engine: the
Spark pipeline must match these functions byte-for-byte per turn. Golden
fixtures and the driver's DuckDB oracle parquet are generated from here.

Token-box shape (EasyOCR triple, ocr_core/easyocr_reader.py:18 and mocked in
tests/test_ocr_engine.py:27-30)::

    [[[x0,y0],[x1,y1],[x2,y2],[x3,y3]], "token text", 0.93]

Payload envelope for "PDF-like" turns (FIXTURES.md §2a)::

    {"h": 600, "w": 800, "boxes": [ <triple>, ... ]}
"""

from __future__ import annotations

import json
import math
import re
from html.parser import HTMLParser

# ---------------------------------------------------------------------------
# Cleaning (X1 / X2)
# ---------------------------------------------------------------------------


def preprocess_text(text: str) -> str:
    """X1 — ocr_app/utils/text_utils.py:12-34 (exact order preserved)."""
    if not text:
        return ""
    text = re.sub(r"\s+", " ", text)
    text = re.sub(r"\n{3,}", "\n\n", text)  # dead after step 1; kept verbatim
    text = re.sub(r"[^\x00-\x7F]+", "", text)
    return text.strip()


def clean_extracted_text(text: str) -> str:
    """X2 — src/utils.py:80-94."""
    if not text:
        return ""
    text = re.sub(r"\s+", " ", text)
    text = re.sub(r"[^\x20-\x7E\n\t]", "", text)
    text = re.sub(r"(\r\n|\r|\n){3,}", "\n\n", text)
    return text.strip()


# ---------------------------------------------------------------------------
# Token-box layout reconstruction (F1..F4, A1..A5, T1/T2)
# ---------------------------------------------------------------------------


def conf_filter(boxes: list, threshold: float = 0.3) -> list:
    """F1 — ocr_core/easyocr_reader.py:17-22: keep conf strictly > threshold."""
    return [b for b in boxes if b[2] > threshold]


def flat_concat(boxes: list) -> str:
    """A5 — ocr_app/core/ocr_engine.py:539: ' '.join in detection order."""
    return " ".join(b[1] for b in boxes)


def avg_confidence(boxes: list, threshold: float = 0.3) -> float:
    """A9 — ocr_core/easyocr_reader.py:24: mean confidence of kept tokens,
    0.0 when nothing is kept (`float(np.mean(confidences)) if confidences
    else 0.0` — there is no early return; every turn reports a value).

    The reference uses np.mean; the engine semantic is restated as the
    left-to-right sum/len fold (identical to the last ulp for the
    magnitudes involved; the oracle defines truth, and both
    implementations fold sequentially)."""
    kept = conf_filter(boxes, threshold)
    if not kept:
        return 0.0
    total = 0.0
    for b in kept:
        total += float(b[2])
    return total / len(kept)


def format_with_layout_v1(boxes: list) -> str:
    """A2 variant v1 — ocr_app/core/ocr_engine.py:544-576.

    Sort by y of top-left point; break a line when the token's top edge is
    more than 20px from the previous token's top edge; within a line sort by
    the (x0, top_y) tuple; join words with ' ', lines with '\\n'.
    """
    if not boxes:
        return ""
    result = sorted(boxes, key=lambda x: x[0][0][1])  # :550
    lines: list[str] = []
    current_line: list = []
    last_y = -1.0
    line_height_threshold = 20  # :555
    for item in result:
        box, text = item[0], item[1]
        top_y = min(p[1] for p in box)  # :558
        if last_y >= 0 and abs(top_y - last_y) > line_height_threshold:  # :561
            current_line.sort(key=lambda x: x[0])  # :563 key=(x0, top_y) tuple
            lines.append(" ".join(word[1] for word in current_line))
            current_line = []
        current_line.append(((box[0][0], top_y), text))  # :568
        last_y = top_y  # :569 — per-token anchor
    if current_line:
        current_line.sort(key=lambda x: x[0])
        lines.append(" ".join(word[1] for word in current_line))
    return "\n".join(lines)


def format_with_layout_v2(boxes: list, img_height: float, geometry: str = "easy") -> str:
    """A2 variant v2 (canonical) — src/ocr_module.py:339-370 (easy geometry)
    and :274-306 (paddle geometry).

    Sort by box center-y — (y0+y2)/2 for easy (:340,:352), (y0+y3)/2 for
    paddle (:276,:288); adaptive tolerance max(10, 0.01*img_height) (:345);
    per-token anchor (last_y updates every token, :362); within a line sort
    by x of the first polygon point (:358); ' ' within line, '\\n' between.
    """
    if not boxes:
        return ""
    if geometry == "paddle":
        cy = lambda b: (b[0][0][1] + b[0][3][1]) / 2  # noqa: E731
    else:
        cy = lambda b: (b[0][0][1] + b[0][2][1]) / 2  # noqa: E731
    sorted_results = sorted(boxes, key=cy)
    y_tolerance = max(10, img_height * 0.01)  # :345
    lines: list[list] = []
    current_line: list = []
    last_y = None
    for b in sorted_results:
        current_y = cy(b)
        if last_y is None or abs(current_y - last_y) <= y_tolerance:  # :354
            current_line.append(b)
        else:
            current_line.sort(key=lambda x: x[0][0][0])  # :358
            lines.append(current_line)
            current_line = [b]
        last_y = current_y  # :362
    if current_line:
        current_line.sort(key=lambda x: x[0][0][0])
        lines.append(current_line)
    return "\n".join(" ".join(w[1] for w in line) for line in lines)


def format_with_layout_v3(boxes: list) -> str:
    """A2 variant v3 — src/core/ocr_engine.py:72-100.

    Sort by (y0, x0) of the first point; line anchor is the LINE-START y
    (updated only on break); tolerance 10px; no within-line re-sort.
    """
    if not boxes:
        return ""
    sorted_result = sorted(boxes, key=lambda x: (x[0][0][1], x[0][0][0]))  # :78
    current_y = sorted_result[0][0][0][1]  # :80
    text_lines: list[str] = []
    current_line: list[str] = []
    for item in sorted_result:
        y_coord = item[0][0][1]
        text = item[1]
        if abs(y_coord - current_y) > 10:  # :89
            if current_line:
                text_lines.append(" ".join(current_line))
            current_line = [text]
            current_y = y_coord  # anchor updates only here
        else:
            current_line.append(text)
    if current_line:
        text_lines.append(" ".join(current_line))
    return "\n".join(text_lines)


# ENGINE ADDITION — no reference counterpart. Recursive XY-cut page
# segmentation (Nagy & Seth, ICPR 1984): the column-aware reading order
# the north_star names ("column/line clustering") that none of the
# reference's three line-clustering variants provide (they interleave
# side-by-side columns line by line). Spec, shared verbatim with the
# production implementation in operators/layout.py (equivalence
# pinned by tests/test_layout_equiv.py):
#   * project axis-aligned box bounds onto an axis; walk boxes sorted by
#     their low edge keeping a running max high edge; a box whose low
#     edge clears the running max by more than the axis gap starts a new
#     region;
#   * try the horizontal cut first (y axis, gap 40px — title/body/footer
#     bands), else the vertical cut (x axis, gap 56px — columns; 56
#     exceeds any intra-line word gap the corpus generator emits);
#   * recurse into each region (top-to-bottom / left-to-right), leaf =
#     the canonical v2 line clustering.
XY_GAP_X = 56.0
XY_GAP_Y = 40.0


def _xy_split(boxes: list, axis: int, gap: float):
    """One projection cut; None when the region is indivisible."""
    def lo_hi(b):
        vs = [p[axis] for p in b[0]]
        return min(vs), max(vs)

    srt = sorted(boxes, key=lambda b: lo_hi(b)[0])
    groups = [[srt[0]]]
    hi = lo_hi(srt[0])[1]
    for b in srt[1:]:
        blo, bhi = lo_hi(b)
        if blo - hi > gap:
            groups.append([b])
        else:
            groups[-1].append(b)
        hi = max(hi, bhi)
    return groups if len(groups) > 1 else None


def format_with_layout_xycut(boxes: list, img_height: float) -> str:
    """Naive pure-Python XY-cut twin (the golden side of the
    two-implementation equality check)."""
    if not boxes:
        return ""
    out: list[str] = []

    def rec(items: list, depth: int) -> None:
        g = None
        if len(items) > 1 and depth <= 32:
            g = (_xy_split(items, 1, XY_GAP_Y)
                 or _xy_split(items, 0, XY_GAP_X))
        if g is None:
            out.append(format_with_layout_v2(items, img_height))
            return
        for grp in g:
            rec(grp, depth + 1)

    rec(list(boxes), 0)
    return "\n".join(t for t in out if t)


def format_with_layout(boxes: list, img_height: float, variant: str = "v2",
                       geometry: str = "easy") -> str:
    if variant == "v1":
        return format_with_layout_v1(boxes)
    if variant == "v3":
        return format_with_layout_v3(boxes)
    if variant == "xycut":
        return format_with_layout_xycut(boxes, img_height)
    return format_with_layout_v2(boxes, img_height, geometry)


# Precision-layout structure analysis — the per-page summary the reference
# test suite CONSUMES (test_precision_layout.py:154-165 reads
# layout_analysis.{total_elements, line_groups, columns.count,
# structure.{titles, bullet_points, numbered_lists}}); the producing
# module (precision_layout_ocr.py) is absent from the snapshot, so the
# semantics are engine-defined from the repo's own committed rules:
#   total_elements — kept detections after the F1 conf>0.3 filter;
#   line_groups    — line count of the canonical v2 clustering;
#   columns.count  — groups from ONE vertical projection cut over the
#                    kept boxes (the XY-cut x-axis rule, gap 56px);
#   titles         — v2 lines passing the X9 header rule
#                    (ocr_app/utils/text_utils.py:249-261: stripped line
#                    is uppercase, has a letter, 3 < len < 50);
#   bullet_points  — stripped lines matching ^[-•*]\s (the bullet shapes
#                    test_precision_layout.py:67-73 draws);
#   numbered_lists — stripped lines matching ^\d+[.)]\s (ibid. :84-90).
_BULLET_RE = re.compile(r"^[-•*]\s")
_NUMBERED_RE = re.compile(r"^\d+[.)]\s")


def _is_title_line(line: str) -> bool:
    s = line.strip()
    return s == s.upper() and s != s.lower() and 3 < len(s) < 50


def layout_analysis(boxes: list, img_height: float,
                    conf_threshold: float = 0.3) -> dict:
    """Naive pure-Python twin (golden side) of
    operators/layout.layout_analysis_json."""
    kept = conf_filter(boxes, conf_threshold)
    if not kept:
        return {"total_elements": 0, "line_groups": 0, "n_columns": 0,
                "n_titles": 0, "n_bullets": 0, "n_numbered": 0}
    text = format_with_layout_v2(kept, img_height)
    lines = text.split("\n") if text else []
    cols = _xy_split(kept, 0, XY_GAP_X)
    return {
        "total_elements": len(kept),
        "line_groups": len(lines),
        "n_columns": len(cols) if cols else 1,
        "n_titles": sum(1 for l in lines if _is_title_line(l)),
        "n_bullets": sum(1 for l in lines if _BULLET_RE.match(l.strip())),
        "n_numbered": sum(1 for l in lines if _NUMBERED_RE.match(l.strip())),
    }


# ---------------------------------------------------------------------------
# Result scoring / selection (A6..A8)
# ---------------------------------------------------------------------------


def score_result_v1(text: str) -> float:
    """A6 — ocr_app/core/ocr_engine.py:415-437."""
    if not text:
        return 0.0
    score = min(1.0, len(text) / 100)
    text_len = len(text)
    if text_len > 0:
        alpha_ratio = sum(c.isalnum() or c.isspace() for c in text) / text_len
        score *= alpha_ratio
    return score


def score_result_v2(text: str) -> float:
    """A7 — src/ocr_module.py:448-476."""
    if not text:
        return 0
    score = 0.0
    score += min(len(text) / 100, 10)
    words = set(re.findall(r"\b\w+\b", text.lower()))
    score += min(len(words) / 10, 10)
    alnum_count = sum(c.isalnum() for c in text)
    if len(text) > 0:
        score += (alnum_count / len(text)) * 10
    if "\n" in text:
        score += 5
    if len(text) < 20:
        score -= 5
    return score


def best_of(paddle_text: str, easy_text: str) -> str:
    """A8 — src/ocr_module.py:414-432: paddle wins ties; empty falls through."""
    if not paddle_text and not easy_text:
        return ""
    if not paddle_text:
        return easy_text
    if not easy_text:
        return paddle_text
    if score_result_v2(paddle_text) >= score_result_v2(easy_text):
        return paddle_text
    return easy_text


# ---------------------------------------------------------------------------
# Chunking (X3 / X4) and keyword retrieval (X5 / X6)
# ---------------------------------------------------------------------------


def split_text_into_chunks(text: str, chunk_size: int = 200, overlap: int = 50) -> list[str]:
    """X3 — ocr_app/utils/text_utils.py:36-90 (word-pack with suffix overlap)."""
    if not text:
        return []
    text = preprocess_text(text)
    paragraphs = re.split(r"\n\s*\n", text)
    chunks: list[str] = []
    for para in paragraphs:
        if len(para) <= chunk_size:
            chunks.append(para)
            continue
        words = para.split()
        current_chunk: list[str] = []
        current_length = 0
        for word in words:
            word_len = len(word) + 1
            if current_length + word_len > chunk_size and current_chunk:
                chunks.append(" ".join(current_chunk))
                overlap_size = min(overlap, len(current_chunk))
                current_chunk = current_chunk[-overlap_size:]
                current_length = sum(len(w) + 1 for w in current_chunk)
            current_chunk.append(word)
            current_length += word_len
        if current_chunk:
            chunks.append(" ".join(current_chunk))
    return chunks


def get_text_chunks(text: str, chunk_size: int = 100, overlap: int = 20) -> list[str]:
    """X4 — src/utils.py:10-24 (stride windows over words)."""
    if not text:
        return []
    words = text.split()
    if not words:
        return []
    chunks = []
    for i in range(0, len(words), chunk_size - overlap):
        chunk = " ".join(words[i : i + chunk_size])
        if chunk:
            chunks.append(chunk)
    return chunks


def keyword_search(query: str, chunks: list[str], k: int = 3) -> list[tuple[str, float]]:
    """X5 — ocr_app/utils/text_utils.py:117-155 (incl. the 0.1-score fallback).

    np.argsort replaced by an equivalent stable index sort.
    """
    query = query.lower()
    query_words = set(re.findall(r"\w+", query))
    scores: list[float] = []
    for chunk in chunks:
        chunk_lower = chunk.lower()
        chunk_words = set(re.findall(r"\w+", chunk_lower))
        word_match_count = len(query_words.intersection(chunk_words))
        phrase_match_score = 0
        for word in query_words:
            if len(word) > 3 and word in chunk_lower:
                phrase_match_score += 1
        scores.append(word_match_count * 0.5 + phrase_match_score)
    if not scores:
        return []
    # np.argsort(scores)[-k:][::-1] — stable ascending argsort, take last k reversed
    order = sorted(range(len(scores)), key=lambda i: scores[i])
    top_indices = order[-k:][::-1]
    max_score = max(scores) if max(scores) > 0 else 1
    result = [(chunks[i], scores[i] / max_score) for i in top_indices if scores[i] > 0]
    if not result and chunks:
        return [(chunks[i], 0.1) for i in top_indices[:k]]
    return result


def fallback_keyword_search(chunks: list[str], query: str, k: int = 3) -> list[str]:
    """X6 — src/utils.py:60-78."""
    query_words = set(re.sub(r"[^\w\s]", "", query.lower()).split())
    scored_chunks = []
    for chunk in chunks:
        clean_chunk = re.sub(r"[^\w\s]", "", chunk.lower())
        chunk_words = set(clean_chunk.split())
        score = sum(1 for word in query_words if word in chunk_words)
        scored_chunks.append((chunk, score))
    scored_chunks.sort(key=lambda x: x[1], reverse=True)
    return [chunk for chunk, score in scored_chunks[:k] if score > 0]


# ---------------------------------------------------------------------------
# Entities / language / formats (X7..X10)
# ---------------------------------------------------------------------------

DATE_PATTERNS = [
    r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b",
    r"\b\d{4}[/-]\d{1,2}[/-]\d{1,2}\b",
    r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4}\b",
]
EMAIL_PATTERN = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"
PHONE_PATTERN = r"\b(?:\+\d{1,3}[- ]?)?\(?\d{3}\)?[- ]?\d{3}[- ]?\d{4}\b"
URL_PATTERN = r"https?://(?:[-\w.]|(?:%[\da-fA-F]{2}))+"


def extract_entities(text: str) -> dict[str, list[str]]:
    """X7 — ocr_app/utils/text_utils.py:191-231."""
    entities: dict[str, list[str]] = {"dates": [], "emails": [], "phones": [], "urls": []}
    for pattern in DATE_PATTERNS:
        entities["dates"].extend(re.findall(pattern, text, re.IGNORECASE))
    entities["emails"] = re.findall(EMAIL_PATTERN, text)
    entities["phones"] = re.findall(PHONE_PATTERN, text)
    entities["urls"] = re.findall(URL_PATTERN, text)
    return entities


def detect_language_fallback(text: str) -> str:
    """X8 — src/utils.py:96-122 (the deterministic unicode-range path; the
    langdetect dependency is skipped per SURVEY.md §2.8)."""
    if not text or len(text) < 20:
        return "en"
    if re.search(r"[一-鿿]", text):
        return "zh"
    if re.search(r"[぀-ヿ]", text):
        return "ja"
    if re.search(r"[가-힯]", text):
        return "ko"
    if re.search(r"[؀-ۿ]", text):
        return "ar"
    if re.search(r"[Ѐ-ӿ]", text):
        return "ru"
    return "en"


def format_markdown(text: str) -> str:
    """X9 — ocr_app/utils/text_utils.py:249-261 (prefix added to UNstripped line)."""
    if not text:
        return ""
    lines = text.split("\n")
    formatted = []
    for line in lines:
        s = line.strip()
        if s.isupper() and len(s) < 50 and len(s) > 3:
            formatted.append(f"## {line}")
        else:
            formatted.append(line)
    return "\n".join(formatted)


def format_html(text: str) -> str:
    """X10 — ocr_app/utils/text_utils.py:262-274 (no escaping, verbatim)."""
    if not text:
        return ""
    lines = text.split("\n")
    formatted = ['<div class="ocr-text">']
    for line in lines:
        if not line.strip():
            formatted.append("<br>")
        else:
            formatted.append(f"<p>{line}</p>")
    formatted.append("</div>")
    return "\n".join(formatted)


# ---------------------------------------------------------------------------
# Page stitching (X11) — conversation-level rollup analogs
# ---------------------------------------------------------------------------


def stitch_pages_v1(pages: list[str]) -> str:
    """X11a — src/core/ocr_engine.py:128: accumulating '--- PAGE {i+1} ---'."""
    out = ""
    for i, page_text in enumerate(pages):
        out += f"--- PAGE {i+1} ---\n{page_text}\n\n"
    return out


def stitch_pages_v2(pages: list[str]) -> str:
    """X11b — ocr_app/ui/cli.py:163-168: '--- Page {i+1} ---' joined by blank line."""
    return "\n\n".join(f"--- Page {i+1} ---\n{t}" for i, t in enumerate(pages))


def stitch_pages_v3(pages: list[str]) -> str:
    """X11c — src/ocr_cli.py:107: '\\n--- PAGE {i+1} ---\\n{text}\\n' concat."""
    return "".join(f"\n--- PAGE {i+1} ---\n{t}\n" for i, t in enumerate(pages))


# ---------------------------------------------------------------------------
# QA (X13..X15)
# ---------------------------------------------------------------------------


def split_sentences(context: str) -> list[str]:
    """X13 — ocr_app/rag/rag_processor.py:197."""
    return re.split(r"(?<=[.!?])\s+", context)


def fallback_answer_extraction(query: str, context: str) -> tuple[str, float]:
    """X15 — src/rag_module.py:57-95: returns (answer, confidence)."""
    sentences = split_sentences(context)
    query_words = set(re.sub(r"[^\w\s]", "", query.lower()).split())
    scored = []
    for sentence in sentences:
        clean_sentence = re.sub(r"[^\w\s]", "", sentence.lower())
        score = sum(1 for word in query_words if word in clean_sentence)
        scored.append((sentence, score))
    scored.sort(key=lambda x: x[1], reverse=True)
    if scored and scored[0][1] > 0:
        return scored[0][0], min(scored[0][1] / max(1, len(query_words)), 1.0)
    return (
        "Could not generate an answer. Please check if the document contains relevant information.",
        0.0,
    )


STOP_WORDS = {"the", "a", "an", "is", "are", "was", "were", "in", "on", "at",
              "by", "to", "for", "with", "about"}


def extract_answer_from_context(query: str, context: str) -> str:
    """X14 — ocr_app/rag/rag_processor.py:167-236."""
    query = query.lower().strip()
    query = re.sub(r"[^\w\s]", "", query)
    who_match = re.search(r"\bwho\b", query)
    when_match = re.search(r"\bwhen\b", query)
    query_terms = [t for t in query.split() if t.lower() not in STOP_WORDS]
    sentences = split_sentences(context)
    relevant = [s for s in sentences if any(t in s.lower() for t in query_terms)]
    if not relevant:
        return context
    if who_match:
        for sentence in relevant:
            names = re.findall(r"(?<!^)(?<![\.\!\?]\s)([A-Z][a-z]+(?:\s[A-Z][a-z]+)*)", sentence)
            if names:
                return names[0]
    elif when_match:
        for sentence in relevant:
            dates = re.findall(
                r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b|\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* \d{1,2},? \d{4}\b|\b\d{4}\b",
                sentence,
            )
            if dates:
                return dates[0]
    scores = [sum(1 for t in query_terms if t in s.lower()) for s in relevant]
    return relevant[scores.index(max(scores))].strip()


# ---------------------------------------------------------------------------
# X16 — benchmark similarity ratio
# ---------------------------------------------------------------------------


def similarity_ratio(a: str, b: str) -> float:
    """X16 — src/ocr_benchmark.py:21-25: difflib.SequenceMatcher ratio
    (the reference's accuracy metric between an engine output and the
    ground truth)."""
    import difflib

    return difflib.SequenceMatcher(None, a or "", b or "").ratio()


# ---------------------------------------------------------------------------
# Table heuristic (A13)
# ---------------------------------------------------------------------------


def detect_table_spacing(y_centers: list[float]) -> bool:
    """A13 — src/ocr_module.py:525-540: even-spacing statistic.

    Population std (np.std default) — stddev_pop on the Spark side.
    """
    if len(y_centers) <= 10:
        return False
    ys = sorted(y_centers)
    diffs = [ys[i + 1] - ys[i] for i in range(len(ys) - 1)]
    if len(diffs) <= 5:
        return False
    mean_diff = sum(diffs) / len(diffs)
    var = sum((d - mean_diff) ** 2 for d in diffs) / len(diffs)
    std_diff = var ** 0.5
    return bool(std_diff < mean_diff * 0.5 and std_diff > 0)


def angle_mode(payload_json: str) -> tuple[int, int, int, int] | None:
    """A14 — histogram-mode orientation analog of src/ocr_module.py:148-167
    and src/ocr/preprocessor.py:145-171.

    The reference runs Canny + HoughLines over the raw image, bins the line
    normals (theta, degrees mod 180) into a 180-bin histogram, and takes the
    argmax bin: ocr_module derives a coarse rotation (90/180/270) from the
    bin, preprocessor derives skew = max_bin - 90. We have token-box
    geometry instead of pixels, so the detected "lines" are the assembled
    text lines: cluster ALL boxes (Hough runs pre-OCR, so no confidence
    filter) with the v2 rule (sort by easy-geometry center-y, adaptive
    tolerance max(10, 0.01*h), per-token anchor — src/ocr_module.py:339-362),
    then take each multi-token line's direction from its first to its last
    token center in x order. theta = (direction + 90) mod 180 is the
    Hough-normal equivalent (horizontal text → theta 90 → skew 0).

    Returns (theta_mode, skew_deg, rotation, n_lines) with ints only
    (golden parquet pins int32), or None when no multi-token line exists
    (the reference's `lines is not None` guard → no orientation evidence).
    Ties in the histogram resolve to the smallest bin (np.argmax).
    Rotation boundaries mirror ocr_module faithfully, including bins 45 and
    135 mapping to 0 (`<45`/`>135`/`45<x<135` leaves them uncovered).
    """
    payload = json.loads(payload_json)
    boxes = payload.get("boxes", [])
    h = payload.get("h", 0)
    if not boxes:
        return None
    cy = lambda b: (b[0][0][1] + b[0][2][1]) / 2  # noqa: E731 — easy geometry
    cx = lambda b: (b[0][0][0] + b[0][2][0]) / 2  # noqa: E731
    sorted_boxes = sorted(boxes, key=cy)
    tol = max(10, h * 0.01)
    lines: list[list] = []
    current: list = []
    last_y = None
    for b in sorted_boxes:
        y = cy(b)
        if last_y is None or abs(y - last_y) <= tol:
            current.append(b)
        else:
            lines.append(current)
            current = [b]
        last_y = y
    if current:
        lines.append(current)
    hist = [0] * 180
    n_lines = 0
    for line in lines:
        if len(line) < 2:
            continue
        line = sorted(line, key=lambda b: b[0][0][0])  # x of first point (:358)
        dx = cx(line[-1]) - cx(line[0])
        dy = cy(line[-1]) - cy(line[0])
        if dx == 0 and dy == 0:
            continue
        direction = math.degrees(math.atan2(dy, dx)) % 180.0
        theta = (direction + 90.0) % 180.0
        hist[int(math.floor(theta)) % 180] += 1
        n_lines += 1
    if n_lines == 0:
        return None
    max_bin = hist.index(max(hist))
    if max_bin < 45:
        rotation = 90
    elif max_bin > 135:
        rotation = 270
    elif 45 < max_bin < 135:
        rotation = 180
    else:
        rotation = 0
    return (max_bin, max_bin - 90, rotation, n_lines)


# ---------------------------------------------------------------------------
# HTML main-content extraction (engine-defined semantics; north_star's
# DOM text-density / link-density heuristic branch)
# ---------------------------------------------------------------------------

BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "br",
    "tr", "table", "th", "td", "section", "article", "header", "footer",
    "nav", "aside", "blockquote", "pre", "main", "title", "body", "html",
    "head", "hr", "form",
}
DROP_CONTAINER_TAGS = {"nav", "footer", "header", "aside"}
RAW_SKIP_TAGS = {"script", "style", "noscript"}
LINK_DENSITY_MAX = 0.5


class _BlockCollector(HTMLParser):
    """Collects block-level text runs with link-char accounting.

    Blocks are flushed at every open/close of a block-level tag; text inside
    <script>/<style>/<noscript> is skipped entirely; a block is marked
    dropped-by-container if any of its text arrived while inside
    nav/footer/header/aside.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.blocks: list[tuple[str, int, int, bool]] = []  # raw, chars, link_chars, in_drop
        self._buf: list[str] = []
        self._chars = 0
        self._link_chars = 0
        self._in_drop = False

    def _flush(self) -> None:
        if self._buf:
            self.blocks.append(("".join(self._buf), self._chars, self._link_chars, self._in_drop))
        self._buf = []
        self._chars = 0
        self._link_chars = 0
        self._in_drop = False

    def handle_starttag(self, tag, attrs):
        if tag in BLOCK_TAGS:
            self._flush()
        self.stack.append(tag)

    def handle_endtag(self, tag):
        if tag in BLOCK_TAGS:
            self._flush()
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i] == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        if any(t in RAW_SKIP_TAGS for t in self.stack):
            return
        self._buf.append(data)
        n = len(data.strip())
        self._chars += n
        if "a" in self.stack:
            self._link_chars += n
        if any(t in DROP_CONTAINER_TAGS for t in self.stack):
            self._in_drop = True

    def close(self):
        super().close()
        self._flush()


def extract_html_blocks(html_text: str) -> tuple[list[str], int]:
    """Return (kept_block_texts, n_dropped).

    Rules (engine spec, deterministic):
      * block boundaries at block-level tags (BLOCK_TAGS)
      * script/style/noscript content removed
      * per-block clean = X1 applied to the block (whitespace collapse,
        non-ASCII strip, trim — ocr_app/utils/text_utils.py:26-34 semantics)
      * drop a block if it sits in nav/footer/header/aside, or its
        link density (stripped link chars / stripped chars) > 0.5
      * empty-after-clean blocks are neither kept nor counted as dropped
    """
    parser = _BlockCollector()
    parser.feed(html_text)
    parser.close()
    kept: list[str] = []
    dropped = 0
    for raw, chars, link_chars, in_drop in parser.blocks:
        clean = preprocess_text(raw)
        if not clean:
            continue
        density = (link_chars / chars) if chars > 0 else 0.0
        if in_drop or density > LINK_DENSITY_MAX:
            dropped += 1
        else:
            kept.append(clean)
    return kept, dropped


# ---------------------------------------------------------------------------
# Per-turn pipeline (kind sniffing + branch + spans + metrics)
# ---------------------------------------------------------------------------

_HTML_SNIFF = re.compile(
    r"<\s*(?:!doctype|html|body|div|p|br|h[1-6]|ul|ol|li|table|nav|footer|"
    r"header|span|a|script|style|section|article|main)\b",
    re.IGNORECASE,
)


def classify_kind(text: str, tool: str) -> str:
    """Payload-kind sniffing (F5 analog — SURVEY.md §2.2)."""
    if tool and tool.lstrip().startswith("{") and '"boxes"' in tool:
        return "boxes"
    if text and _HTML_SNIFF.search(text):
        return "html"
    return "plain"


def spans_of(extracted_text: str) -> list[tuple[int, int, str]]:
    """W4 — char-offset spans, one per '\\n'-delimited line of the output."""
    if not extracted_text:
        return []
    spans = []
    start = 0
    for line in extracted_text.split("\n"):
        spans.append((start, start + len(line), line))
        start += len(line) + 1
    return spans


def extract_turn(text: str, tool: str, variant: str = "v2", geometry: str = "easy",
                 conf_threshold: float = 0.3) -> dict:
    """Full per-turn oracle: returns the rollup record (north_star §1.3)."""
    text = text or ""
    tool = tool or ""
    kind = classify_kind(text, tool)
    chars_in = len(text) + len(tool)
    table_flag = False
    if kind == "boxes":
        payload = json.loads(tool)
        boxes = payload.get("boxes", [])
        kept = conf_filter(boxes, conf_threshold)
        extracted = format_with_layout(kept, payload.get("h", 0), variant, geometry)
        n_kept, n_dropped = len(kept), len(boxes) - len(kept)
        # A13 — src/ocr_module.py:516-540: even-spacing table heuristic over
        # ALL detections (the reference applies it pre-filter), easy-geometry
        # y centers (:527)
        table_flag = detect_table_spacing([(b[0][0][1] + b[0][2][1]) / 2 for b in boxes])
    elif kind == "html":
        blocks, n_dropped = extract_html_blocks(text)
        extracted = "\n".join(blocks)
        n_kept = len(blocks)
    else:
        extracted = preprocess_text(text)
        n_kept = 1 if extracted else 0
        n_dropped = 0
    return {
        "kind": kind,
        "extracted_text": extracted,
        "spans": spans_of(extracted),
        "n_blocks_kept": n_kept,
        "n_blocks_dropped": n_dropped,
        "chars_in": chars_in,
        "chars_out": len(extracted),
        "table_flag": table_flag,
    }


# ENGINE ADDITION — dilated box-overlap statistics (the detection-merge
# telemetry behind the north_star's "layout-box interval trees" term).
# Naive pure-Python twin of operators/overlap.py (vectorized numpy);
# equality pinned by tests/test_overlap.py and the extract_box_overlaps
# golden oracle. Margin and per-pair arithmetic order are shared
# verbatim with the engine kernel.
BOX_OVERLAP_MARGIN = 6.0


def box_overlap_stats(payload_json: str):
    """Returns (n_boxes, n_overlap_pairs, max_iou_x1e6) or None."""
    import math

    payload = json.loads(payload_json)
    boxes = payload.get("boxes", [])
    n = len(boxes)
    if n == 0:
        return None
    m = BOX_OVERLAP_MARGIN
    x0 = [min(p[0] for p in b[0]) - m for b in boxes]
    x1 = [max(p[0] for p in b[0]) + m for b in boxes]
    y0 = [min(p[1] for p in b[0]) - m for b in boxes]
    y1 = [max(p[1] for p in b[0]) + m for b in boxes]
    area = [(x1[i] - x0[i]) * (y1[i] - y0[i]) for i in range(n)]
    n_pairs = 0
    best = 0
    for i in range(n):
        for j in range(i + 1, n):
            ix = min(x1[i], x1[j]) - max(x0[i], x0[j])
            iy = min(y1[i], y1[j]) - max(y0[i], y0[j])
            if ix > 0 and iy > 0:
                inter = ix * iy
                iou = inter / (area[i] + area[j] - inter)
                n_pairs += 1
                v = int(math.floor(iou * 1e6))
                if v > best:
                    best = v
    if n_pairs == 0:
        return (n, 0, 0)
    return (n, n_pairs, best)
