"""Dilated box-overlap statistics per boxes turn (numpy).

The north_star's "layout-box interval trees" term: detection-merge
pipelines dilate each token box by a margin and merge boxes whose
dilated bounds intersect; this operator emits the per-turn telemetry of
that step (pair count + max dilated IoU). At per-turn cardinalities
(≤ tens of tokens) the vectorized pairwise form below beats an interval
tree / sweep — the sweep is the documented scale path if a pathological
payload carried 10^5 boxes in one turn, but turns that large are
already spread by the salt shuffle and bounded by F6 size guards.

Engine twin of :func:`ocr_image_to_text_spark.pyref.box_overlap_stats`
(naive double loop). Per-pair arithmetic keeps the exact operation
order of the twin (min/max subtraction, a*b products, a+b-inter
denominator, floor per PAIR then integer max — the reduction is over
ints so it is order-free), so equality is bit-exact.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

OVERLAP_MARGIN = 6.0  # px dilation on every side before intersection

OVERLAP_SCHEMA = StructType([
    StructField("n_boxes", IntegerType()),
    StructField("n_overlap_pairs", IntegerType()),
    StructField("max_iou_x1e6", LongType()),
])


def overlap_kernel(payload_json: str):
    """Returns (n_boxes, n_overlap_pairs, max_iou_x1e6) or None."""
    payload = json.loads(payload_json)
    boxes = payload.get("boxes", [])
    n = len(boxes)
    if n == 0:
        return None
    P = np.asarray([b[0] for b in boxes], dtype=np.float64)  # (n, 4, 2)
    m = OVERLAP_MARGIN
    x0 = P[:, :, 0].min(axis=1) - m
    x1 = P[:, :, 0].max(axis=1) + m
    y0 = P[:, :, 1].min(axis=1) - m
    y1 = P[:, :, 1].max(axis=1) + m
    ix = np.minimum(x1[:, None], x1[None, :]) - np.maximum(x0[:, None],
                                                           x0[None, :])
    iy = np.minimum(y1[:, None], y1[None, :]) - np.maximum(y0[:, None],
                                                           y0[None, :])
    iu = np.triu_indices(n, 1)
    ixu, iyu = ix[iu], iy[iu]
    mask = (ixu > 0) & (iyu > 0)
    n_pairs = int(np.count_nonzero(mask))
    if n_pairs == 0:
        return (n, 0, 0)
    inter = ixu[mask] * iyu[mask]
    area = (x1 - x0) * (y1 - y0)
    a = area[iu[0][mask]]
    b = area[iu[1][mask]]
    iou = inter / (a + b - inter)
    vals = np.floor(iou * 1e6).astype(np.int64)
    return (n, n_pairs, int(vals.max()))


@pandas_udf(OVERLAP_SCHEMA)
def overlap_udf(tool: pd.Series) -> pd.DataFrame:
    rows = []
    for payload in tool.to_numpy():
        r = overlap_kernel(payload)
        rows.append(r if r is not None else (None, None, None))
    return pd.DataFrame(rows, columns=["n_boxes", "n_overlap_pairs",
                                       "max_iou_x1e6"])
