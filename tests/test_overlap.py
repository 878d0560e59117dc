"""Dilated box-overlap: numpy kernel == naive pyref twin, the dilation
actually bites (raw synthetic boxes rarely touch), and a payload the twin
cannot read fails the Spark pass instead of vanishing as a NULL row."""

import json
import random

import pytest
from pyspark.sql import functions as F

from ocr_image_to_text_spark import pyref
from ocr_image_to_text_spark.operators.overlap import (overlap_kernel,
                                                       overlap_udf)
from ocr_image_to_text_spark.transcripts import (
    BOX_FIXTURES,
    _boxes_fixture,
    _boxes_payload,
)


def test_fixtures_match_twin():
    for case in BOX_FIXTURES:
        payload = _boxes_fixture(case)
        assert overlap_kernel(payload) == pyref.box_overlap_stats(payload)


def test_random_payloads_match_twin_and_nonvacuous():
    rng = random.Random(31337)
    pairs = 0
    for _ in range(300):
        payload = _boxes_payload(rng)
        got = overlap_kernel(payload)
        assert got == pyref.box_overlap_stats(payload)
        pairs += got[1]
    assert pairs > 0  # the 6px dilation must produce overlap evidence


def test_scatter_match_twin():
    rng = random.Random(7)
    for _ in range(200):
        n = rng.randint(1, 30)
        boxes = []
        for i in range(n):
            x, y = rng.uniform(0, 500), rng.uniform(0, 500)
            w, h = rng.uniform(4, 150), rng.uniform(4, 40)
            boxes.append(
                [[[x, y], [x + w, y], [x + w, y + h], [x, y + h]],
                 f"t{i}", 0.9])
        payload = json.dumps({"h": 600, "w": 800, "boxes": boxes})
        assert overlap_kernel(payload) == pyref.box_overlap_stats(payload)


@pytest.mark.parametrize("payload", [
    '{"h": 600, "w": 800, "boxes": [',    # truncated JSON
    '{"h": 600, "w": 800, "boxes": null}',
], ids=["truncated", "null_boxes"])
def test_unreadable_payload_raises_like_the_twin(spark, payload):
    with pytest.raises((ValueError, TypeError)) as twin:
        pyref.box_overlap_stats(payload)
    # the extract_box_overlaps plan: the UDF, then the empty-page filter
    rows = (spark.createDataFrame([(payload,)], "tool string")
            .select(overlap_udf(F.col("tool")).alias("o"))
            .filter(F.col("o.n_boxes").isNotNull()))
    with pytest.raises(Exception, match=type(twin.value).__name__):
        rows.collect()
