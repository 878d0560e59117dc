#!/usr/bin/env python
"""Driver benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:

    {"metric": "total_bench_sec", "value": N, "unit": "sec",
     "queries": {"extract_rollup": sec, ...}, "failed": [...], "sf": 0.1,
     "turns_per_sec": N, "n_turns": N, "cpus": N}

A query that raises in either pass is listed under "failed" with a null
time, and the total ("value") is null: a partial suite has no total.

Per-query timing forces full materialization through the noop sink (no
collect — rows never cross to the driver). The extraction throughput
headline (BASELINE.json `metric`: turns/sec) is reported alongside; the
two-parallelism scaling-efficiency evidence lives in tools/scaling.py →
BENCH.md (run separately so per-round bench cost stays bounded).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _bench_query(spark, fn, sf_dir: str) -> float:
    from ocr_image_to_text_spark.cachectl import release_caches

    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    # Library-level caches are per-query scratch: release them inside the
    # timed region (each query pays its own cache cost) so a long bench
    # session's block store stays bounded and no query inherits warmth.
    release_caches()
    return elapsed


def headline_queries() -> list:
    from ocr_image_to_text_spark import queries as q

    return [
        # extraction pipeline (the north_star job)
        ("extract_rollup", q.extract_rollup),
        ("extract_spans", q.extract_spans),
        ("conversation_stitch", q.conversation_stitch),
        ("chunks_modern", q.chunks_modern),
        # documents analytics
        ("doc_entities", q.doc_entities),
        ("doc_quality_v2", q.doc_quality_v2),
        ("doc_token_counts", q.doc_token_counts),
        ("doc_fingerprints", q.doc_fingerprints),
        # training-data ops
        ("dedup_exact", q.dedup_exact),
        ("dedup_minhash_lsh", q.dedup_minhash_lsh),
        ("doc_simhash", q.doc_simhash),
        ("ann_cosine_topk", q.ann_cosine_topk),
        ("emb_dup_pairs", q.emb_dup_pairs),
        # events
        ("events_hourly", q.events_hourly),
        ("events_sessions", q.events_sessions),
    ]


def run_suite(spark, sf_dir: str, n_turns: int, sf, cpus: int) -> dict:
    """The full 15-query, 2-pass rotated protocol; returns the JSON dict.

    Position-bias hardening (VERDICT r3 next-#7): the host is
    credit-throttled, so a query's measured time drifts with its
    POSITION in the run (doc_quality_v2 measured 0.8-13.2 s for the
    same map-only plan depending on how drained the budget was).
    Run the suite twice with the second pass rotated by half the
    list, release all session caches between passes (so pass 2 is
    cache-cold, not artificially warm), and report the per-query MIN
    — each query gets one early-sequence and one late-sequence slot,
    and min-of-2 discards whichever slot the throttle hit.
    """
    from ocr_image_to_text_spark.cachectl import release_all

    headline = headline_queries()
    rot = len(headline) // 2
    orders = [headline, headline[rot:] + headline[:rot]]
    passes: list[dict[str, float]] = []
    failed: list[str] = []
    for order in orders:
        release_all()
        t: dict[str, float] = {}
        for name, fn in order:
            try:
                t[name] = round(_bench_query(spark, fn, sf_dir), 3)
            except Exception as exc:  # one broken query must not stop the bench
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                if name not in failed:
                    failed.append(name)
        passes.append(t)

    timings: dict[str, float | None] = {
        name: None if name in failed else min(p[name] for p in passes)
        for name, _ in headline}
    total = None if failed else round(sum(timings.values()), 3)
    extract_sec = timings["extract_rollup"]
    turns_per_sec = round(n_turns / extract_sec, 1) if extract_sec else None

    return {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "sf": sf,
        "turns_per_sec": turns_per_sec,
        "n_turns": n_turns,
        "cpus": cpus,
        "order_meta": {
            "passes": 2,
            "rotation": rot,
            "aggregation": "per-query min of 2 rotated passes",
            "pass_totals": [None if failed else round(sum(p.values()), 3)
                            for p in passes],
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    from ocr_image_to_text_spark.session import get_spark
    from ocr_image_to_text_spark.transcripts import ensure_transcripts_for_sf_dir

    # Synthetic transcripts are generated (cached) outside the timed region.
    tpath = ensure_transcripts_for_sf_dir(sf_dir)

    spark = get_spark("bench", master=f"local[{cpus}]")
    n_turns = spark.read.parquet(tpath).count()

    result = run_suite(
        spark, sf_dir, n_turns,
        float(sf) if sf.replace(".", "").isdigit() else sf, cpus)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
