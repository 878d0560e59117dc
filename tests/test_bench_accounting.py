"""bench.run_suite failure accounting: a failed query is listed under
"failed" with a null time and the total is null, never a -1 left out of
a sum that then looks like a faster suite."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from ocr_image_to_text_spark import cachectl  # noqa: E402


def _ok(spark, sf_dir):
    return None


def _broken(spark, sf_dir):
    raise RuntimeError("boom")


@pytest.fixture
def suite(monkeypatch):
    def run(queries):
        monkeypatch.setattr(bench, "headline_queries", lambda: queries)
        monkeypatch.setattr(bench, "_bench_query",
                            lambda spark, fn, sf_dir: fn(spark, sf_dir) or 2.0)
        monkeypatch.setattr(cachectl, "release_all", lambda: None)
        return bench.run_suite(None, "sf", n_turns=10, sf=0.1, cpus=1)
    return run


def test_all_green_suite_has_a_total(suite):
    r = suite([("extract_rollup", _ok), ("doc_simhash", _ok)])
    assert r["failed"] == []
    assert r["value"] == 4.0
    assert r["queries"] == {"extract_rollup": 2.0, "doc_simhash": 2.0}
    assert r["turns_per_sec"] == 5.0


def test_failed_query_is_listed_and_voids_the_total(suite):
    r = suite([("extract_rollup", _broken), ("doc_simhash", _ok)])
    assert r["failed"] == ["extract_rollup"]
    assert r["value"] is None
    assert r["queries"] == {"extract_rollup": None, "doc_simhash": 2.0}
    assert r["turns_per_sec"] is None
    assert r["order_meta"]["pass_totals"] == [None, None]
