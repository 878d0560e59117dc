"""PLANS.md normalizer: two runs of the same plan audit must write the
same text, so the session counters in a formatted plan (expression ids,
plan_ids, RDD ids, lambda-variable suffixes) and the checkout root are
rewritten, while literals that look like ids (`Brand#12`) are not."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import explain_audit  # noqa: E402


def _plan(p_brand, p_size, count, udf, plan_id, rdd, lam):
    return f"""\
(1) Scan parquet
Output [2]: [p_brand#{p_brand}, p_size#{p_size}]
Location: InMemoryFileIndex [file:{REPO}/warehouse/part.parquet]
PushedFilters: [IsNotNull(p_brand), EqualTo(p_brand,Brand#12)]

(2) Filter
Input [2]: [p_brand#{p_brand}, p_size#{p_size}]
Condition : ((p_brand#{p_brand} = Brand#12) AND (p_size#{p_size} <= 5))

(3) ArrowEvalPython
Input [2]: [p_brand#{p_brand}, p_size#{p_size}]
Arguments: [f(p_brand#{p_brand})#{udf}], [pythonUDF0#{udf + 1}], 200

(4) HashAggregate
Input [1]: [p_size#{p_size}]
Aggregate Attributes [1]: [count(1)#{count}L]
Results [2]: [p_size#{p_size}, count(1)#{count}L AS n#{count + 1}L]
Functions [1]: [filter(xs, lambdafunction((lambda x_{lam}#{count + 2} > 1), lambda x_{lam}#{count + 2}, false))]

(5) Exchange
Arguments: hashpartitioning(p_size#{p_size}, 8), ENSURE_REQUIREMENTS, [plan_id={plan_id}]

(6) Scan ExistingRDD
Arguments: [n#{count + 1}L], MapPartitionsRDD[{rdd}] at localCheckpoint, ExistingRDD
"""


def test_normalize_plan_drops_run_counters_and_keeps_literals():
    a = _plan(4191, 4193, 10185, 10778, 8597, 123, 14)
    b = _plan(19183, 19185, 20001, 20841, 8224, 242, 29)
    na, nb = explain_audit.normalize_plan(a), explain_audit.normalize_plan(b)
    assert na == nb
    for raw in ("4191", "10185", "10778", "8597", "123", "x_14"):
        assert raw not in na, raw
    assert REPO not in na and "file:<repo>/warehouse" in na
    # literals keep their text; equal ids stay equal, distinct stay distinct
    assert na.count("Brand#12") == a.count("Brand#12") == 2
    assert "(p_brand#0 = Brand#12) AND (p_size#1 <= 5)" in na
    assert "count(1)#4L AS n#5L" in na
    assert "lambda x_0#6 > 1), lambda x_0#6" in na
    assert "[plan_id=0]" in na and "MapPartitionsRDD[0]" in na
