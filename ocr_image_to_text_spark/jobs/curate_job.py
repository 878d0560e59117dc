"""Resumable corpus-curation job: the manifest-checkpoint pattern of
``extract_job`` generalized beyond extraction to the documents family —
CCNet boilerplate strip → Gopher gate → A6 scoring, bucketed by
``pmod(xxhash64(doc_id), n_buckets)`` and committed wave-by-wave.

Two-phase structure (the part extraction does not need):

* **Phase 0 — global statistic.** The CCNet frequent-line set is a
  corpus-wide aggregate; it is computed ONCE, written to
  ``_bp_set/`` (Spark's ``_SUCCESS`` marker is the commit), and every
  wave — including waves of a resumed run — reloads the SAME committed
  set. A restart therefore strips with the statistics of the original
  pass, never a drifted recount over a partially-curated corpus.
* **Phase 1 — bucketed waves.** Each wave strips/gates/scores its
  buckets map-side (the set rides a 1-row broadcast), writes curated
  parquet with dynamic partition overwrite, THEN the job's own process
  commits the manifest rows (``jobs/manifest.py``; write-ahead ordering:
  data first, manifest is the commit marker). Resume = skip buckets with a committed
  done row.

At 100 TB: phase 0 is one line-hash shuffle with map-side
array_distinct compaction (the relative doc-frequency gate bounds the
qualifying set regardless of corpus size — that bound is what keeps the
broadcast legal); phase 1 is map-only per wave plus the write.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import manifest

CURATE_MANIFEST_SCHEMA = StructType([
    StructField("part_id", IntegerType(), False),
    StructField("status", StringType(), False),
    StructField("n_docs", LongType(), True),
    StructField("n_kept", LongType(), True),
    StructField("chars_in", LongType(), True),
    StructField("chars_out", LongType(), True),
    StructField("wall_ms", LongType(), True),
    StructField("run_id", StringType(), False),
    StructField("lineage", StringType(), True),
])


def _part_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                  F.lit(n_buckets)).cast("int")


def _ensure_bp_set(spark: SparkSession, docs, bp_dir: str):
    """Phase 0: compute-or-load the committed frequent-line set."""
    from ..queries import _bp_frequent_lines

    if not os.path.exists(os.path.join(bp_dir, "_SUCCESS")):
        (_bp_frequent_lines(docs).coalesce(1)
         .write.mode("overwrite").parquet(bp_dir))
    return spark.read.parquet(bp_dir)


def run_curate_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 16,
    wave_size: int = 4,
    fail_after_waves: int | None = None,
) -> dict:
    """Run (or resume) the curation job. Returns a summary dict."""
    from ..queries import _bp_kept_lines, _gopher_metrics

    run_id = uuid.uuid4().hex[:12]
    curated_dir = os.path.join(out_dir, "curated")
    bp_dir = os.path.join(out_dir, "_bp_set")
    manifest_dir = os.path.join(out_dir, "_manifest")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    docs = spark.read.parquet(input_path)
    bp = _ensure_bp_set(spark, docs, bp_dir)
    bp_set = bp.agg(F.array_sort(F.collect_set("line")).alias("bp"))

    lineage = {
        "input": input_path, "n_buckets": n_buckets,
        "app_id": spark.sparkContext.applicationId,
    }
    done = manifest.done_parts(manifest_dir)
    todo = [p for p in range(n_buckets) if p not in done]
    if done:
        print(f"curate_job: resuming run={run_id}: "
              f"{len(done)} parts done, {len(todo)} to go")
        manifest.check_lineage(manifest_dir, lineage, ("n_buckets",))
    lineage_json = json.dumps(lineage)

    base = docs.withColumn("part_id", _part_col(n_buckets))
    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    n_done_waves = 0
    kept_counts: list[int] = []
    t_job0 = time.perf_counter()
    for wave in waves:
        t0 = time.perf_counter()
        sub = base.filter(F.col("part_id").isin([int(p) for p in wave]))
        lines = F.split(F.col("text"), "\n", -1)
        kept_lines = _bp_kept_lines(lines, F.col("bp"))
        passthru = [c for c in ("source", "lang") if c in docs.columns]
        stripped = (sub.crossJoin(F.broadcast(bp_set))
                    .select("part_id", "doc_id", *passthru,
                            F.length("text").cast("long").alias("chars_in"),
                            F.concat_ws("\n", kept_lines).alias("text")))
        g = _gopher_metrics(F.col("text"))
        from ..functions import textfn

        score = textfn.score_v1_col(F.col("text"))
        curated = stripped.select(
            "part_id", "doc_id", *passthru, "chars_in", "text",
            F.length("text").cast("long").alias("chars_out"),
            g["n_words"].alias("n_words"),
            g["keep"].cast("boolean").alias("keep"),
            F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("q_x1e6"))
        (curated.filter(F.col("keep"))
         .drop("keep")
         .repartition("part_id")
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").partitionBy("part_id")
         .parquet(curated_dir))
        stats = {r.part_id: r for r in curated.groupBy("part_id").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum("chars_in").alias("chars_in"),
            F.sum(F.when(F.col("keep"), F.col("chars_out"))
                  .otherwise(F.lit(0))).alias("chars_out"),
        ).collect()}
        wall_ms = int((time.perf_counter() - t0) * 1000)
        rows = []
        for p in wave:
            s = stats.get(p)
            rows.append((int(p), "done",
                         int(s.n_docs) if s else 0,
                         int(s.n_kept) if s else 0,
                         int(s.chars_in) if s else 0,
                         int(s.chars_out) if s else 0,
                         wall_ms, run_id, lineage_json))
        manifest.commit(manifest_dir, CURATE_MANIFEST_SCHEMA, rows)
        kept_counts.append(sum(int(s.n_kept) for s in stats.values()))
        print(f"curate_job: wave {wave[0]}..{wave[-1]} "
              f"wall={wall_ms}ms", flush=True)
        n_done_waves += 1
        if fail_after_waves is not None and n_done_waves >= fail_after_waves:
            raise RuntimeError(
                f"curate_job: injected failure after {n_done_waves} waves")

    n_kept = (manifest.done_total(manifest_dir, "n_kept") if done
              else sum(kept_counts))
    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "resumed_parts": len(done),
        "processed_parts": len(todo),
        "wall_s": round(time.perf_counter() - t_job0, 3),
        "n_kept": n_kept,
    }
