"""Resumable corpus-curation job: the documents-family twin of
``extract_job``, run through the same wave driver
(``jobs/manifest.run_waves``) — CCNet boilerplate strip → Gopher gate →
A6 scoring, bucketed by ``pmod(xxhash64(doc_id), n_buckets)`` and
committed wave-by-wave.

Two-phase structure (the part extraction does not need):

* **Phase 0 — global statistic.** The CCNet frequent-line set is a
  corpus-wide aggregate; it is computed ONCE, written to
  ``_bp_set/`` (Spark's ``_SUCCESS`` marker is the commit), and every
  wave — including waves of a resumed run — reloads the SAME committed
  set. A restart therefore strips with the statistics of the original
  pass, never a drifted recount over a partially-curated corpus.
* **Phase 1 — bucketed waves.** A wave is ONE Spark execution plus the
  manifest commit: its buckets are stripped and gated map-side (the set
  rides a 1-row broadcast), shuffled by ``part_id`` — a dropped doc
  travels with its text nulled — and the result stage observes the
  per-bucket stats, drops the gated-out docs, scores the kept ones and
  writes curated parquet with dynamic partition overwrite. The stats
  come from ``DataFrame.observe`` in that result stage (as the extract
  job's spans write does), so Spark merges each task's metrics exactly
  once. THEN the job's own process commits the manifest rows::

    _manifest(part_id, status, n_docs, n_kept, chars_in, chars_out,
              wall_ms, run_id, lineage)

  A resume skips buckets with a committed done row, and must match the
  committed lineage on input and n_buckets.

At 100 TB: phase 0 is one line-hash shuffle with map-side
array_distinct compaction (the relative doc-frequency gate bounds the
qualifying set regardless of corpus size — that bound is what keeps the
broadcast legal); phase 1 is one ``part_id`` shuffle per wave plus the
write.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from . import manifest


def _part_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                  F.lit(n_buckets)).cast("int")


def run_curate_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 16,
    wave_size: int = 4,
) -> dict:
    """Run (or resume) the curation job. Returns a summary dict."""
    from ..functions import textfn
    from ..queries import (
        _bp_frequent_lines,
        _bp_kept_lines,
        _gopher_metrics,
        _with_bp_set,
    )

    curated_dir = os.path.join(out_dir, "curated")
    bp_dir = os.path.join(out_dir, "_bp_set")
    docs = spark.read.parquet(input_path)
    # phase 0: compute the frequent-line set once; every wave reloads it
    if not os.path.exists(os.path.join(bp_dir, "_SUCCESS")):
        (_bp_frequent_lines(docs).coalesce(1)
         .write.mode("overwrite").parquet(bp_dir))
    bp = spark.read.parquet(bp_dir)
    base = docs.withColumn("part_id", _part_col(n_buckets))
    passthru = [c for c in ("source", "lang") if c in docs.columns]
    text = F.col("text")
    stats = (("n_docs", F.lit(1)), ("n_kept", F.col("keep").cast("long")),
             ("chars_in", F.col("chars_in")), ("chars_out", F.length(text)))

    def run_wave(parts: list[int]) -> dict:
        sub = base.filter(F.col("part_id").isin(parts))
        kept_lines = _bp_kept_lines(F.split(text, "\n", -1), F.col("bp"))
        stripped = _with_bp_set(sub, bp).select(
            "part_id", "doc_id", *passthru,
            F.length(text).cast("long").alias("chars_in"),
            F.concat_ws("\n", kept_lines).alias("text"))
        # a dropped doc only counts: it crosses the shuffle without text
        gated = (stripped.withColumn("keep", _gopher_metrics(text)["keep"])
                 .withColumn("text", F.when(F.col("keep"), text)))
        obs = Observation()
        (gated.repartition("part_id")
         .observe(obs, *manifest.part_sums(parts, stats))
         .filter(F.col("keep"))
         .select("part_id", "doc_id", *passthru, "chars_in", "text",
                 F.length(text).cast("long").alias("chars_out"),
                 _gopher_metrics(text)["n_words"].alias("n_words"),
                 F.floor(textfn.score_v1_col(text) * 1e6 + F.lit(0.5))
                 .cast("long").alias("q_x1e6"))
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").partitionBy("part_id")
         .parquet(curated_dir))
        return obs.get

    return manifest.run_waves(
        spark, "curate_job", out_dir,
        {"input": input_path, "n_buckets": n_buckets},
        tuple(name for name, _ in stats), "n_kept", run_wave,
        n_buckets, wave_size)
