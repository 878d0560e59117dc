"""Per-partition commit manifest shared by the resumable jobs.

A job writes a wave's data with dynamic partition overwrite, THEN commits
one manifest row per bucket (write-ahead ordering: data first, the
manifest row is the commit marker). The manifest is a directory of small
parquet files under ``<out>/_manifest``; each job keeps its own row
schema (``part_id``, ``status``, ``run_id`` and ``lineage`` are common).

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
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


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


def check_lineage(manifest_dir: str, lineage: dict,
                  keys: tuple[str, ...]) -> None:
    """Refuse to resume when a committed run's lineage differs from this
    run's on any of ``keys``. A key the manifest lacks is a mismatch:
    that manifest was written by code whose output may not match."""
    rows = _done_rows(manifest_dir, ["lineage"])
    if not rows:
        return
    prev = json.loads(rows[0]["lineage"] or "{}")
    for key in keys:
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
