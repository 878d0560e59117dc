"""The resume/commit protocol of the resumable jobs, and its manifest.

``run_waves`` is the one wave driver both jobs run through. It takes a
run id, turns on dynamic partition overwrite, refuses to resume under a
changed lineage, and runs the buckets not yet done in waves. Each wave
calls the job's callback, which writes the wave's data (dynamic partition
overwrite, so a re-run wave replaces its partitions) and returns the
per-bucket stats it observed. Only THEN does the driver commit one
manifest row per bucket (write-ahead ordering: data first, the manifest
row is the commit marker). It returns the run summary. The manifest is
a directory of small parquet files under ``<out>/_manifest``, with rows
``(part_id, status, <the job's stats>, wall_ms, run_id, lineage)``.

The job's own process writes a commit's rows with pyarrow — no Spark job
for a handful of rows — to a hidden temp file in the manifest directory
and publishes it with ``os.replace``, which is atomic on a local
filesystem.
A crash before the rename leaves only the hidden temp file, which Spark
and pyarrow both skip (names starting with ``.`` or ``_``), so its parts
count as not done and run again. Resume reads the manifest with pyarrow
the same way.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _done_rows(manifest_dir: str, columns: list[str]) -> list[dict]:
    if not os.path.isdir(manifest_dir):
        return []
    d = ds.dataset(manifest_dir, format="parquet")
    if not d.files:  # nothing committed yet (at most a leftover temp file)
        return []
    t = d.to_table(columns=["status", *columns])
    # a row is only ever appended after its data write succeeded
    return [r for r in t.to_pylist() if r["status"] == "done"]


def done_parts(manifest_dir: str) -> set[int]:
    """Buckets with a committed ``done`` row."""
    return {r["part_id"] for r in _done_rows(manifest_dir, ["part_id"])}


def done_total(manifest_dir: str, column: str) -> int:
    """Sum of ``column`` over the committed ``done`` rows."""
    return sum(r[column] or 0 for r in _done_rows(manifest_dir, [column]))


def check_lineage(manifest_dir: str, lineage: dict) -> None:
    """Refuse to resume when a committed run's lineage differs from this
    run's on any key of ``lineage``. A key the manifest lacks is a
    mismatch: that manifest was written by code whose output may not
    match."""
    rows = _done_rows(manifest_dir, ["lineage"])
    if not rows:
        return
    prev = json.loads(rows[0]["lineage"] or "{}")
    for key in lineage:
        if key not in prev or prev[key] != lineage[key]:
            raise ValueError(
                "resume mismatch: manifest has "
                f"{key}={prev.get(key, '<missing>')!r}, this run has "
                f"{lineage[key]!r} — use a fresh --out dir")


def commit(manifest_dir: str, schema: StructType, rows: list[tuple]) -> None:
    """Atomically append ``rows`` (tuples in ``schema`` order)."""
    # every column nullable, as in the files Spark itself writes
    arrow_schema = pa.schema([f.with_nullable(True)
                              for f in to_arrow_schema(schema)])
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 schema=arrow_schema)
    os.makedirs(manifest_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(manifest_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(manifest_dir, name))


def part_sums(parts: list[int], stats) -> list:
    """Per-bucket sums as plain aggregates (``DataFrame.observe`` has no
    groupBy): ``<name>_<part>`` sums the per-row Column ``value`` over the
    bucket's rows, for every ``(name, value)`` of ``stats`` and every
    bucket of the wave. A bucket without rows sums to NULL."""
    pid = F.col("part_id")
    return [F.sum(F.when(pid == p, value)).alias(f"{name}_{p}")
            for p in parts for name, value in stats]


def run_waves(
    spark: SparkSession,
    job: str,
    out_dir: str,
    lineage: dict,
    stats: tuple[str, ...],
    total: str,
    run_wave,
    n_buckets: int,
    wave_size: int,
) -> dict:
    """Run (or resume) ``job``'s buckets ``0..n_buckets-1`` in waves of
    ``wave_size``. Returns the summary dict.

    ``run_wave(parts)`` writes the data of the wave's buckets and returns
    a mapping with ``<stat>_<part>`` for every stat of ``stats`` (the
    manifest's stat columns, in order) and part (a missing or NULL value
    commits 0). A resume must match the committed ``lineage`` on every
    key. The summary's ``total`` is that stat summed over every committed
    bucket, this run's and earlier runs'.
    """
    schema = StructType([
        StructField("part_id", IntegerType(), False),
        StructField("status", StringType(), False),
        *[StructField(s, LongType(), True) for s in stats],
        StructField("wall_ms", LongType(), True),
        StructField("run_id", StringType(), False),
        StructField("lineage", StringType(), True),
    ])
    run_id = uuid.uuid4().hex[:12]
    manifest_dir = os.path.join(out_dir, "_manifest")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    done = done_parts(manifest_dir)
    todo = [p for p in range(n_buckets) if p not in done]
    if done:
        print(f"{job}: resuming run={run_id}: "
              f"{len(done)} parts done, {len(todo)} to go")
        # committed buckets would silently diverge from the new waves
        check_lineage(manifest_dir, lineage)
    lineage_json = json.dumps(
        {**lineage, "app_id": spark.sparkContext.applicationId})

    t_job0 = time.perf_counter()
    for i in range(0, len(todo), wave_size):
        parts = todo[i:i + wave_size]
        t0 = time.perf_counter()
        got = run_wave(parts)
        t1 = time.perf_counter()
        wall_ms = int((t1 - t0) * 1000)
        commit(manifest_dir, schema,
               [(p, "done", *(int(got.get(f"{s}_{p}") or 0) for s in stats),
                 wall_ms, run_id, lineage_json) for p in parts])
        print(f"{job}: wave {parts[0]}..{parts[-1]} wall={wall_ms}ms "
              f"commit={time.perf_counter() - t1:.2f}s", flush=True)

    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "resumed_parts": len(done),
        "processed_parts": len(todo),
        "wall_s": round(time.perf_counter() - t_job0, 3),
        total: done_total(manifest_dir, total),
    }
