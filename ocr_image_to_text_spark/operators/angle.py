"""A14 — histogram-mode orientation over token boxes (numpy).

Vectorized engine twin of :func:`ocr_image_to_text_spark.pyref.angle_mode`
(the cited restatement of src/ocr_module.py:148-167 and
src/ocr/preprocessor.py:145-171 — Hough-normal 180-bin histogram argmax →
coarse rotation + skew). The reference bins pixel-space Hough lines; we bin
the assembled text lines' directions (v2 clustering over ALL boxes — the
deskew pass runs before OCR confidence exists), converting each line's
first→last token-center direction to its Hough-normal theta.

Equality with pyref is pinned by tests/test_angle.py over fixtures and the
full sf0.01 corpus. The kernel is gaps-and-islands (argsort/diff/cumsum)
plus one lexsort — no per-token Python in the loop; the per-LINE atan2 calls
are bounded by lines-per-turn (≤8 in the corpus, and O(tokens) worst case).
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StructField, StructType

ANGLE_SCHEMA = StructType([
    StructField("theta_mode", IntegerType()),
    StructField("skew_deg", IntegerType()),
    StructField("rotation", IntegerType()),
    StructField("n_lines", IntegerType()),
])


def angle_kernel(payload_json: str):
    """Returns (theta_mode, skew_deg, rotation, n_lines) or None."""
    payload = json.loads(payload_json)
    boxes = payload.get("boxes", [])
    n = len(boxes)
    if n == 0:
        return None
    h = payload.get("h", 0)
    polys = np.array([b[0] for b in boxes], dtype=np.float64)  # (n, 4, 2)
    cy = (polys[:, 0, 1] + polys[:, 2, 1]) / 2.0  # (y0+y2)/2 centre (:340)
    cx = (polys[:, 0, 0] + polys[:, 2, 0]) / 2.0
    x0 = polys[:, 0, 0]
    tol = max(10, h * 0.01)  # :345

    order = np.argsort(cy, kind="stable")
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    # sorted ascending → abs(diff) == diff; per-token anchor (:354,:362)
    breaks[1:] = np.diff(cy[order]) > tol
    line_id = np.cumsum(breaks) - 1
    # stable within-line sort by x of the first polygon point (:358)
    pos = np.lexsort((x0[order], line_id))
    idx = order[pos]
    lid = line_id[pos]

    firsts = np.flatnonzero(np.r_[True, np.diff(lid) > 0])
    lasts = np.r_[firsts[1:] - 1, n - 1]
    dx = cx[idx[lasts]] - cx[idx[firsts]]
    dy = cy[idx[lasts]] - cy[idx[firsts]]
    multi = (lasts > firsts) & ((dx != 0) | (dy != 0))
    n_lines = int(np.count_nonzero(multi))
    if n_lines == 0:
        return None
    hist = np.zeros(180, dtype=np.int64)
    # scalar libm atan2 per LINE (not per token): bit-identical to the
    # pure-Python oracle, and lines-per-turn is small by construction.
    for gdx, gdy in zip(dx[multi], dy[multi]):
        direction = math.degrees(math.atan2(gdy, gdx)) % 180.0
        theta = (direction + 90.0) % 180.0
        hist[int(math.floor(theta)) % 180] += 1
    max_bin = int(hist.argmax())  # tie → smallest bin, np.argmax semantics
    if max_bin < 45:
        rotation = 90
    elif max_bin > 135:
        rotation = 270
    elif 45 < max_bin < 135:
        rotation = 180
    else:
        rotation = 0  # bins 45/135 fall through, faithfully (ocr_module:161-167)
    return (max_bin, max_bin - 90, rotation, n_lines)


@pandas_udf(ANGLE_SCHEMA)
def angle_mode_udf(tool: pd.Series) -> pd.DataFrame:
    rows = []
    for payload in tool.to_numpy():
        r = angle_kernel(payload) if payload else None
        rows.append(r if r is not None else (None, None, None, None))
    return pd.DataFrame(rows, columns=["theta_mode", "skew_deg", "rotation", "n_lines"])
