"""Per-layer measurements for the traced run.

Each function times calls into one layer's public functions from the
outside and returns ``{metric name: value}`` in the units declared in
BENCHMARK.json.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ocr_image_to_text_spark.operators import htmlx
from ocr_image_to_text_spark.operators.extract import (
    extract_turns,
    kind_col,
    make_dispatch_udf,
    spans_table,
)
from ocr_image_to_text_spark.operators.layout import extract_boxes_json


def _us_per_call(fn, args: list) -> float:
    if not args:
        return 0.0
    t0 = time.perf_counter()
    for a in args:
        fn(a)
    return (time.perf_counter() - t0) / len(args) * 1e6


KERNEL_SAMPLE = 3000  # turns per kind: the first ones, in input order


def kernels(rows: list[dict], kinds: list[str]) -> dict:
    """In-driver, single-core kernel cost over the workload's own payloads
    (0.0 where the workload has no turn of that kind)."""
    def sample(kind: str, field: str) -> list[str]:
        return [r[field] for r, k in zip(rows, kinds) if k == kind][:KERNEL_SAMPLE]

    tools, html, plain = sample("boxes", "tool"), sample("html", "text"), sample("plain", "text")
    accepted = sum(1 for t in html if htmlx._scan_fast(t, htmlx._Collector()))
    return {
        "layout.extract_boxes_json.us_per_turn": _us_per_call(extract_boxes_json, tools),
        "layout.json_loads.us_per_turn": _us_per_call(json.loads, tools),
        "htmlx.extract_html_one.us_per_turn": _us_per_call(htmlx.extract_html_one, html),
        "htmlx.fast_path_ratio": accepted / len(html) if html else 0.0,
        "htmlx.clean_block.us_per_turn": _us_per_call(htmlx.clean_block, plain),
    }


@pandas_udf("int")
def _noop_udf(kind: pd.Series, text: pd.Series, tool: pd.Series) -> pd.Series:
    return pd.Series(0, index=kind.index, dtype="int32")


# (metric, plan) pairs: each plan adds one layer to the one before it, and
# the metric is the wall difference between the two.
def _plans(df, partitions: int):
    base = df.select("conv_id", "turn_idx", "text", "tool")
    classified = base.withColumn("kind", kind_col())
    salted = classified.repartition(partitions, F.xxhash64("conv_id", "turn_idx"))
    args = (F.col("kind"), F.col("text"), F.col("tool"))
    dispatch = make_dispatch_udf()
    return [
        ("extract.scan_s", base),
        ("extract.classify_s", classified),
        ("extract.shuffle_s", salted),
        ("extract.arrow_boundary_s", salted.withColumn("r", _noop_udf(*args))),
        ("extract.dispatch_s", salted.withColumn("r", dispatch(*args)).select(
            "conv_id", "turn_idx", "kind", "r.*")),
        ("extract.spans_expr_s", spans_table(extract_turns(df, partitions=partitions))),
    ]


def cumulative_plans(spark, input_path: str, tracer, reps: int = 2) -> dict:
    """Cumulative extraction plans through the noop sink; median of reps."""
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plans = _plans(spark.read.parquet(input_path), partitions)
    walls: dict[str, list[float]] = {name: [] for name, _ in plans}
    for _ in range(reps):
        for name, plan in plans:
            with tracer.span("operators.extract", plan=name) as sp:
                plan.write.format("noop").mode("overwrite").save()
            walls[name].append(sp.dur)
    out, prev = {}, 0.0
    for name, _ in plans:
        cur = statistics.median(walls[name])
        out[name] = cur - prev
        prev = cur
    return out


def query_suite(spark, sf_dir: str, tracer, failures: list) -> tuple[dict, int]:
    """The 15 bench.headline_queries() through the noop sink, caches
    released between queries (bench._bench_query). Extraction queries read
    through the cold ``queries._extracted`` session cache."""
    import bench
    from ocr_image_to_text_spark.cachectl import release_all

    release_all()
    out = {}
    queries = bench.headline_queries()
    for name, fn in queries:
        with tracer.span("queries", query=name) as sp:
            try:
                bench._bench_query(spark, fn, sf_dir)
            except Exception:  # counted as a failure; its time is still shown
                traceback.print_exc(file=sys.stderr)
                failures.append(f"query:{name}")
        out[f"suite.{name}_s"] = sp.dur
    release_all()
    return out, len(queries)
