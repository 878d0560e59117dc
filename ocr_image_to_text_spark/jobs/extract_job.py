"""Resumable, skew-salted extraction job (north_rule scale mechanics).

Execution model
---------------
The input is bucketed by ``part_id = pmod(xxhash64(conv_id), n_buckets)`` —
hash(conv_id) partitioning keeps a conversation's turns in one output
partition (stitch-friendly downstream). Buckets are processed in *waves*;
inside a wave the pre-UDF shuffle is salted down to turn granularity
(``xxhash64(conv_id, turn_idx)``), so a single skewed 10^6-turn
conversation spreads over every task while its output still lands in one
``part_id`` directory (extraction is per-turn independent; order is
restored at write via sortWithinPartitions).

Checkpoint / resume
-------------------
A wave is two Spark executions plus a commit from the job's own process
(three executions with ``max_payload_chars``: the per-bucket count of
dropped payloads runs first):

1. **rollup write** — scan → salted shuffle → dispatch UDF → the published
   rollup parquet (partitioned by ``part_id``, sorted by conversation).
   The UDF also emits the int-only ``span_starts`` per turn, kept in the
   rollup.
2. **spans write** — a column-pruned re-read of this wave's rollup
   partitions, exploded into the spans parquet. A ``DataFrame.observe``
   on the re-read collects the per-bucket stats (turns, chars, blocks) as
   the write runs. It is one result stage, so Spark merges each task's
   metrics exactly once.
3. **commit** — the job's process appends one manifest row per bucket
   (``jobs/manifest.py``: pyarrow write to a hidden temp file, published
   by ``os.replace``)::

    _manifest(part_id, status, n_turns, chars_in, chars_out,
              blocks_kept, blocks_dropped, n_oversized, wall_ms, run_id,
              lineage)

Restart = anti-join: buckets with a committed ``done`` row are skipped.
Output writes use **dynamic partition overwrite** per wave, so a wave that
died mid-write (or before its manifest file was renamed into place) is
cleanly re-written — the manifest row is the commit marker (write-ahead
ordering: data first, then manifest). A resume must match the committed
lineage on variant, extras, n_buckets and the rollup format (its schema);
a manifest without one of those keys is refused too. This is the
Parquet-warehouse emulation of Iceberg ``MERGE INTO`` + snapshot commit
(SURVEY.md §7: no Iceberg runtime jar is available here; on a real
cluster the same logic targets an Iceberg manifest table and the data
write becomes a single atomic ``overwritePartitions``).

Reference parity: replaces the md5 file cache at
ocr_app/utils/performance.py:190-268 (keyed at ocr_app/core/ocr_engine.py:241-254,
which hashes size+params only — a correctness bug we do not inherit:
our resume key is the deterministic partition of the input itself).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.extract import extract_turns, spans_table
from . import manifest

MANIFEST_SCHEMA = StructType([
    StructField("part_id", IntegerType(), False),
    StructField("status", StringType(), False),
    StructField("n_turns", LongType(), True),
    StructField("chars_in", LongType(), True),
    StructField("chars_out", LongType(), True),
    StructField("blocks_kept", LongType(), True),
    StructField("blocks_dropped", LongType(), True),
    StructField("n_oversized", LongType(), True),
    StructField("wall_ms", LongType(), True),
    StructField("run_id", StringType(), False),
    StructField("lineage", StringType(), True),
])
# manifest stat column ← the rollup column it sums (None: count rows)
_STATS = (("n_turns", None), ("chars_in", "chars_in"),
          ("chars_out", "chars_out"), ("blocks_kept", "n_blocks_kept"),
          ("blocks_dropped", "n_blocks_dropped"))
_RESUME_KEYS = ("variant", "extras", "n_buckets", "rollup_format")


def part_id_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _part_stats(parts: list[int]) -> list:
    """Per-bucket sums as plain aggregates (observe() has no groupBy):
    ``<stat>_<part>`` for every stat and bucket of the wave."""
    pid = F.col("part_id")
    return [(F.count_if(pid == p) if src is None
             else F.sum(F.when(pid == p, F.col(src)))).alias(f"{stat}_{p}")
            for p in parts for stat, src in _STATS]


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 32,
    wave_size: int = 8,
    variant: str = "v2",
    fail_after_waves: int | None = None,
    max_payload_chars: int | None = None,
    extras: bool = False,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict.

    ``fail_after_waves`` injects a crash after N committed waves — used by
    the kill-and-resume test to prove checkpoint semantics.
    """
    run_id = uuid.uuid4().hex[:12]
    rollup_dir = os.path.join(out_dir, "rollup")
    spans_dir = os.path.join(out_dir, "spans")
    manifest_dir = os.path.join(out_dir, "_manifest")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    salt_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    df = spark.read.parquet(input_path)
    base = df.withColumn("part_id", part_id_col(n_buckets))
    # the rollup's schema as written (analysis only, no Spark job): it is
    # the rollup format of the lineage and the schema of the re-reads
    rollup_schema = extract_turns(base, variant=variant, extras=extras) \
        .withColumn("part_id", part_id_col(n_buckets)).schema
    lineage = {
        "input": input_path, "variant": variant, "n_buckets": n_buckets,
        "extras": extras, "rollup_format": rollup_schema.simpleString(),
        "app_id": spark.sparkContext.applicationId,
    }
    done = manifest.done_parts(manifest_dir)
    todo = [p for p in range(n_buckets) if p not in done]
    if done:
        print(f"extract_job: resuming run={run_id}: "
              f"{len(done)} parts done, {len(todo)} to go")
        # Refuse to resume under settings that change row semantics or the
        # rollup schema: committed partitions would silently diverge from
        # the new waves.
        manifest.check_lineage(manifest_dir, lineage, _RESUME_KEYS)
    lineage_json = json.dumps(lineage)

    waves = [todo[i:i + wave_size] for i in range(0, len(todo), wave_size)]
    n_done_waves = 0
    n_this_run = 0
    t_proc0 = time.perf_counter()
    for wave in waves:
        t0 = time.perf_counter()
        parts = [int(p) for p in wave]
        sub = base.filter(F.col("part_id").isin(parts))
        # F6 analog (src/ocr/preprocessor.py:14-42 size guard, SURVEY §2.9
        # resize-cap row): oversized payloads are dropped — never silently;
        # the count per bucket goes to the manifest (north_star "no silent
        # caps").
        oversized_counts: dict[int, int] = {}
        if max_payload_chars is not None:
            size_col = (F.length(F.coalesce(F.col("text"), F.lit("")))
                        + F.length(F.coalesce(F.col("tool"), F.lit(""))))
            over = sub.filter(size_col > max_payload_chars)
            oversized_counts = {r.part_id: r.n for r in
                                over.groupBy("part_id").agg(F.count("*").alias("n"))
                                .collect()}
            sub = sub.filter(size_col <= max_payload_chars)
        # Execution 1 — one UDF pass → the PUBLISHED rollup parquet
        # (partitioned, sorted). Salted repartition: turn-granular hash
        # spreads skewed convs. (A former _stage dir copied to rollup cost
        # a full extra write and two corpus shuffles per wave; dynamic
        # partition overwrite + the manifest commit marker already make
        # the publish crash-consistent. No persist: caching span arrays in
        # the JVM heap measured 3x GC wall at 32 tasks, and disk-backed
        # re-reads ride the page cache.)
        ext = (extract_turns(sub, variant=variant, partitions=salt_partitions,
                             extras=extras)
               .withColumn("part_id", part_id_col(n_buckets)))
        (ext.repartition("part_id")
         .sortWithinPartitions("conv_id", "turn_idx")
         .write.mode("overwrite").partitionBy("part_id").parquet(rollup_dir))
        t_rollup = time.perf_counter() - t0
        # Execution 2 — re-read ONLY this wave's partitions (the table
        # accumulates across waves; partition pruning keeps it wave-local)
        # with the known schema (no inference job), observe the per-bucket
        # stats, explode the committed span_starts into spans. No
        # repartition: rows arrive grouped by part_id from the pruned
        # partitioned read, so the partitionBy write needs no shuffle.
        staged = (spark.read.schema(rollup_schema).parquet(rollup_dir)
                  .filter(F.col("part_id").isin(parts)))
        obs = Observation()
        (spans_table(staged.observe(obs, *_part_stats(parts)))
         .withColumn("part_id", part_id_col(n_buckets))
         .write.mode("overwrite").partitionBy("part_id").parquet(spans_dir))
        stats = obs.get
        t_spans = time.perf_counter() - t0 - t_rollup
        wall_ms = int((time.perf_counter() - t0) * 1000)
        rows = [(p, "done",
                 *(int(stats[f"{stat}_{p}"] or 0) for stat, _ in _STATS),
                 int(oversized_counts.get(p, 0)), wall_ms, run_id, lineage_json)
                for p in parts]
        n_this_run += sum(r[2] for r in rows)
        # Commit marker: manifest rows land only after both data writes.
        t1 = time.perf_counter()
        manifest.commit(manifest_dir, MANIFEST_SCHEMA, rows)
        t_commit = time.perf_counter() - t1
        print(f"extract_job: wave {wave[0]}..{wave[-1]} rollup={t_rollup:.1f}s "
              f"spans={t_spans:.1f}s commit={t_commit:.2f}s", flush=True)
        n_done_waves += 1
        if fail_after_waves is not None and n_done_waves >= fail_after_waves:
            raise RuntimeError(
                f"extract_job: injected failure after {n_done_waves} waves")

    # prior runs' turns live only in the manifest
    n_total = (manifest.done_total(manifest_dir, "n_turns") if done
               else n_this_run)
    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "resumed_parts": len(done),
        "processed_parts": len(todo),
        "wall_s": round(time.perf_counter() - t_proc0, 3),
        "n_turns": n_total,
    }
