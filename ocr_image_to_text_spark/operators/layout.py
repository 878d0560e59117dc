"""Reading-order reconstruction over token boxes.

Independent re-implementation of the reference's line clustering,
verified byte-for-byte against :mod:`ocr_image_to_text_spark.pyref` by
tests/test_layout_equiv.py.

Variants (SURVEY.md §2.4 A2):
  v1 — tol 20px, per-token anchor, top-edge y key, within-line key (x0, top_y)
       (ocr_app/core/ocr_engine.py:544-576)
  v2 — tol max(10, 0.01*H), per-token anchor, center-y key, within-line key x0
       (src/ocr_module.py:274-306, 339-370) — canonical default
  v3 — tol 10px, LINE-START anchor, (y0, x0) sort, no within-line re-sort
       (src/core/ocr_engine.py:72-100)

v1/v2 are gaps-and-islands over one sort: a stable index sort on the
y key, a line id that grows at each gap wider than the tolerance, then
one stable sort on (line id, within-line key). v3's anchor depends on
the previous break decision, so it is a sequential scan. Every kernel is
plain Python over lists, one code path at every turn size: against the
numpy twins that large turns used to take, it is faster on the
benchmark's pages and slower only for v1 and the column count on very
large pages (BENCH.md "One layout path").
"""

from __future__ import annotations

import json
import math

# Reading-order reconstruction keeps only boxes whose confidence is
# strictly above this (F1, ocr_core/easyocr_reader.py:17-22).
CONF_THRESHOLD = 0.3


def _assemble(texts: list, order: list, line_id: list) -> str:
    """Join tokens (already in final order) into ' '-joined lines, '\n'-joined."""
    out = []
    cur: list[str] = []
    last = -1
    for pos, i in enumerate(order):
        if line_id[pos] != last and cur:
            out.append(" ".join(cur))
            cur = []
        cur.append(texts[i])
        last = line_id[pos]
    if cur:
        out.append(" ".join(cur))
    return "\n".join(out)


# No kernel branches on this. It stays exported only because
# perfbench/workloads.py imports it to size the dense pages of its
# workloads (pages with >= SMALL_N kept tokens), and those inputs must
# stay the same for runs across changes to compare.
SMALL_N = 64


def _line_ids(keys: list, tol: float) -> list:
    """Line id per y-sorted token: a new line wherever the key jumps by
    more than ``tol`` from the previous token (per-token anchor)."""
    line_id = [0] * len(keys)
    lid = 0
    for j in range(1, len(keys)):
        if abs(keys[j] - keys[j - 1]) > tol:
            lid += 1
        line_id[j] = lid
    return line_id


def layout_v1(polys, texts: list) -> str:
    """polys: nested lists, one 4-point polygon per token."""
    n = len(texts)
    if n == 0:
        return ""
    y0 = [p[0][1] for p in polys]
    order = sorted(range(n), key=y0.__getitem__)
    top_y = [min(pt[1] for pt in polys[i]) for i in order]
    x0 = [polys[i][0][0] for i in order]
    line_id = _line_ids(top_y, 20)
    # within-line sort by (x0, top_y): seq index is the final tiebreak
    final = sorted(range(n), key=lambda j: (line_id[j], x0[j], top_y[j], j))
    return _assemble(texts, [order[j] for j in final],
                     [line_id[j] for j in final])


def layout_v2(polys, texts: list, img_h: float) -> str:
    n = len(texts)
    if n == 0:
        return ""
    cy = [(p[0][1] + p[2][1]) / 2 for p in polys]
    order = sorted(range(n), key=cy.__getitem__)
    x0 = [polys[i][0][0] for i in order]
    line_id = _line_ids([cy[i] for i in order], max(10, img_h * 0.01))
    final = sorted(range(n), key=lambda j: (line_id[j], x0[j], j))
    return _assemble(texts, [order[j] for j in final],
                     [line_id[j] for j in final])


def layout_v3(polys, texts: list) -> str:
    n = len(texts)
    if n == 0:
        return ""
    order = sorted(range(n), key=lambda i: (polys[i][0][1], polys[i][0][0], i))
    ys = [polys[i][0][1] for i in order]
    # sequential line-anchor scan (anchor = y of the line-opening token)
    line_id = [0] * n
    anchor = ys[0]
    lid = 0
    for i in range(1, n):
        if abs(ys[i] - anchor) > 10:
            lid += 1
            anchor = ys[i]
        line_id[i] = lid
    return _assemble(texts, order, line_id)


# ENGINE ADDITION — recursive XY-cut page segmentation (Nagy & Seth,
# ICPR 1984). Column-aware reading order: the reference's three line
# clusterings interleave side-by-side columns line by line; XY-cut reads
# each column band fully before the next. Spec shared verbatim with the
# naive pure-Python twin pyref.format_with_layout_xycut (equivalence
# pinned by tests/test_layout_equiv.py): y cut first (gap 40px), else x
# cut (gap 56px > any intra-line word gap the corpus emits), recurse,
# leaf = canonical v2 line clustering. The per-region walk is a
# sequential scan like v3's anchor loop — bounded by the turn's token
# count, never cross-turn.
XY_GAP_X = 56.0
XY_GAP_Y = 40.0


def _span(poly, axis: int) -> tuple:
    vs = [pt[axis] for pt in poly]
    return min(vs), max(vs)


def _split(spans: list, ids: list, gap: float) -> list:
    """One projection cut of ``ids`` (box indexes) over their (lo, hi)
    ``spans``: walk by low edge with a running max high edge; a low edge
    clearing it by more than ``gap`` opens a new group."""
    s = sorted(ids, key=lambda i: spans[i][0])
    groups: list[list] = [[s[0]]]
    run_hi = spans[s[0]][1]
    for i in s[1:]:
        lo, hi = spans[i]
        if lo - run_hi > gap:
            groups.append([i])
        else:
            groups[-1].append(i)
        run_hi = max(run_hi, hi)
    return groups


def layout_xycut(polys, texts: list, img_h: float) -> str:
    n = len(texts)
    if n == 0:
        return ""
    xs = [_span(p, 0) for p in polys]
    ys = [_span(p, 1) for p in polys]
    out: list[str] = []

    def rec(ids: list, depth: int) -> None:
        if len(ids) > 1 and depth <= 32:
            for spans, gap in ((ys, XY_GAP_Y), (xs, XY_GAP_X)):
                groups = _split(spans, ids, gap)
                if len(groups) > 1:
                    for grp in groups:
                        rec(grp, depth + 1)
                    return
        out.append(layout_v2([polys[i] for i in ids],
                             [texts[i] for i in ids], img_h))

    rec(list(range(n)), 0)
    return "\n".join(t for t in out if t)


def table_flag_of(all_polys) -> bool:
    """A13 — src/ocr_module.py:516-540 even-spacing heuristic.

    Computed over ALL detections (pre conf-filter), y centers (y0+y2)/2
    (:527); population std (ddof=0, the reference's numpy default,
    :536). The mean and variance are left-to-right sums, the oracle's
    fold order: numpy's pairwise summation rounds differently and flips
    the flag on evenly spaced pages at the std == mean/2 boundary.
    """
    n = len(all_polys)
    if n <= 10:
        return False
    cy = sorted((p[0][1] + p[2][1]) / 2 for p in all_polys)
    diffs = [cy[i + 1] - cy[i] for i in range(n - 1)]
    if len(diffs) <= 5:
        return False
    mean = sum(diffs) / len(diffs)
    var = sum((d - mean) ** 2 for d in diffs) / len(diffs)
    std = var ** 0.5
    return bool(std < mean * 0.5 and std > 0)


# Precision-layout structure analysis (engine restatement; naive twin =
# pyref.layout_analysis, semantics documented there — the shape the
# reference's test_precision_layout.py:154-165 consumes). The column
# count is ONE top-level vertical projection cut (the XY-cut x-axis
# rule): boxes sorted by low-x, a running max high-x, a new column when
# the next low edge clears it by more than XY_GAP_X.
_TITLE_MIN, _TITLE_MAX = 3, 50


def _column_count(polys) -> int:
    if not polys:
        return 0
    xs = [_span(p, 0) for p in polys]
    return len(_split(xs, list(range(len(polys))), XY_GAP_X))


def _line_structure_counts(lines: list[str]) -> tuple[int, int, int]:
    """(titles, bullets, numbered) over stripped v2 lines. Title = the X9
    header rule (uppercase, has a letter, 3 < len < 50); bullet/numbered
    = leading marker + whitespace."""
    titles = bullets = numbered = 0
    for line in lines:
        s = line.strip()
        if s == s.upper() and s != s.lower() and _TITLE_MIN < len(s) < _TITLE_MAX:
            titles += 1
        if len(s) >= 2 and s[0] in "-•*" and s[1].isspace():
            bullets += 1
        else:
            i = 0
            while i < len(s) and s[i].isdigit():
                i += 1
            if (0 < i < len(s) - 1 and s[i] in ".)"
                    and s[i + 1].isspace()):
                numbered += 1
    return titles, bullets, numbered


def layout_analysis_json(payload: str) -> tuple[int, int, int, int, int, int]:
    """Parse a boxes payload and produce the layout_analysis summary:
    (total_elements, line_groups, n_columns, n_titles, n_bullets,
    n_numbered). A payload pyref cannot read (malformed JSON, `"boxes":
    null`) raises."""
    payload_obj = json.loads(payload)
    boxes = payload_obj.get("boxes", [])
    kept = [b for b in boxes if b[2] > CONF_THRESHOLD]
    if not kept:
        return 0, 0, 0, 0, 0, 0
    polys = [b[0] for b in kept]
    text = layout_v2(polys, [b[1] for b in kept],
                     float(payload_obj.get("h", 0)))
    lines = text.split("\n") if text else []
    titles, bullets, numbered = _line_structure_counts(lines)
    return (len(kept), len(lines), _column_count(polys),
            titles, bullets, numbered)


def extract_boxes_json(payload: str, variant: str = "v2"
                       ) -> tuple[str, int, int, bool, str, int]:
    """Parse a boxes payload ONCE and derive every per-turn box product:
    conf filter (F1) + layout (A2) + A13 table flag + A5 flat concat + A9
    average confidence (`float(np.mean(confidences)) if confidences else
    0.0`, ocr_core/easyocr_reader.py:22-24 — restated as the sequential
    sum/len fold, scaled to int).

    Returns (extracted_text, n_tokens_kept, n_tokens_dropped, table_flag,
    flat_text, avg_conf_x1e9). A payload pyref.extract_turn cannot read
    (malformed JSON, `"boxes": null`) raises.
    """
    payload_obj = json.loads(payload)
    boxes = payload_obj.get("boxes", [])
    n_total = len(boxes)
    kept = [b for b in boxes if b[2] > CONF_THRESHOLD]
    n_kept = len(kept)
    tflag = table_flag_of([b[0] for b in boxes]) if n_total else False
    flat = " ".join(b[1] for b in kept)
    if n_kept:
        total = 0.0
        for b in kept:
            total += float(b[2])
        avg_x1e9 = int(math.floor(total / n_kept * 1e9 + 0.5))
    else:
        avg_x1e9 = 0
    if n_kept == 0:
        return "", 0, n_total, tflag, flat, avg_x1e9
    polys = [b[0] for b in kept]
    texts = [b[1] for b in kept]
    if variant == "v1":
        text = layout_v1(polys, texts)
    elif variant == "v3":
        text = layout_v3(polys, texts)
    elif variant == "xycut":
        text = layout_xycut(polys, texts, float(payload_obj.get("h", 0)))
    else:
        text = layout_v2(polys, texts, float(payload_obj.get("h", 0)))
    return text, n_kept, n_total - n_kept, tflag, flat, avg_x1e9
