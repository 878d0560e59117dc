"""Kill-and-resume semantics of the checkpointed extraction job.

north_rule: "checkpoints per-partition completion with lineage + extraction
metrics ... to a manifest table for resumable restarts". The test kills the
job after one committed wave, resumes, and proves the union equals a
single-shot run — and that the manifest records both runs' lineage.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_image_to_text_spark.jobs import manifest
from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
from ocr_image_to_text_spark.transcripts import ensure_transcripts

N_BUCKETS = 8
WAVE = 3


def _collect_sorted(spark, out_dir, sub):
    df = spark.read.parquet(os.path.join(out_dir, sub))
    cols = sorted(c for c in df.columns if c != "part_id")
    return df.select(*cols).orderBy(*cols).collect()


@pytest.fixture(scope="module")
def tpath():
    return ensure_transcripts("t1")


def test_kill_and_resume_matches_single_shot(spark, tmp_path_factory, tpath):
    out_a = str(tmp_path_factory.mktemp("resume"))
    out_b = str(tmp_path_factory.mktemp("single"))

    # Run A: crash after the first committed wave.
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_job(spark, tpath, out_a, n_buckets=N_BUCKETS,
                        wave_size=WAVE, fail_after_waves=1)
    m1 = spark.read.parquet(os.path.join(out_a, "_manifest"))
    done_parts = {r.part_id for r in m1.filter("status = 'done'").collect()}
    assert 0 < len(done_parts) < N_BUCKETS  # partial progress committed

    # Run A': resume. Must only process the remaining buckets.
    summary = run_extract_job(spark, tpath, out_a,
                              n_buckets=N_BUCKETS, wave_size=WAVE)
    assert summary["resumed_parts"] == len(done_parts)
    assert summary["processed_parts"] == N_BUCKETS - len(done_parts)

    # Run B: fresh single-shot.
    run_extract_job(spark, tpath, out_b, n_buckets=N_BUCKETS, wave_size=N_BUCKETS)

    for sub in ("rollup", "spans"):
        assert _collect_sorted(spark, out_a, sub) == _collect_sorted(spark, out_b, sub)

    # Manifest: every bucket done exactly once, two distinct run lineages.
    m = spark.read.parquet(os.path.join(out_a, "_manifest"))
    done = m.filter("status = 'done'")
    assert done.select("part_id").distinct().count() == N_BUCKETS
    assert done.count() == N_BUCKETS  # no bucket re-committed
    assert done.select("run_id").distinct().count() == 2
    assert done.filter(F.col("lineage").contains(tpath)).count() == N_BUCKETS

    # Metrics faithfulness: manifest sums equal recomputed rollup sums.
    roll = spark.read.parquet(os.path.join(out_a, "rollup"))
    got = done.agg(F.sum("n_turns"), F.sum("chars_out")).collect()[0]
    exp = roll.agg(F.count("*"), F.sum("chars_out")).collect()[0]
    assert (got[0], got[1]) == (exp[0], exp[1])


def test_idempotent_rerun_no_op(spark, tmp_path_factory, tpath):
    out = str(tmp_path_factory.mktemp("noop"))
    run_extract_job(spark, tpath, out, n_buckets=4, wave_size=4)
    s2 = run_extract_job(spark, tpath, out, n_buckets=4, wave_size=4)
    assert s2["processed_parts"] == 0 and s2["resumed_parts"] == 4
    m = spark.read.parquet(os.path.join(out, "_manifest"))
    assert m.filter("status = 'done'").count() == 4  # nothing re-appended


def test_leftover_manifest_temp_file_is_not_a_commit(spark, tmp_path, tpath):
    """A crash between the manifest file write and its rename leaves a
    hidden temp file: Spark, resume and the summary all ignore it, and
    its parts run again."""
    out = str(tmp_path / "job")
    mdir = os.path.join(out, "_manifest")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2,
                        fail_after_waves=1)
    done = manifest.done_parts(mdir)
    assert len(done) == 2
    # the uncommitted wave: the committed rows, relabelled to its parts
    committed = pq.read_table(mdir)
    pending = pa.array(sorted(set(range(4)) - done), pa.int32())
    leftover = committed.set_column(
        committed.schema.get_field_index("part_id"), "part_id", pending)
    pq.write_table(leftover, os.path.join(mdir, ".part-leftover.parquet.tmp"))

    assert spark.read.parquet(mdir).filter("status = 'done'").count() == 2
    assert manifest.done_parts(mdir) == done
    s = run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2)
    assert (s["resumed_parts"], s["processed_parts"]) == (2, 2)
    assert manifest.done_parts(mdir) == {0, 1, 2, 3}
    roll = spark.read.parquet(os.path.join(out, "rollup"))
    assert s["n_turns"] == roll.count() == spark.read.parquet(tpath).count()


def test_resume_refuses_manifest_without_rollup_format(spark, tmp_path, tpath):
    """A manifest written before the lineage recorded the rollup format
    may describe a rollup this code cannot read back: refuse to resume."""
    out = str(tmp_path / "job")
    mdir = os.path.join(out, "_manifest")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2,
                        fail_after_waves=1)
    for name in os.listdir(mdir):
        if name.startswith((".", "_")):
            continue
        path = os.path.join(mdir, name)
        t = pq.read_table(path)
        lineage = []
        for raw in t.column("lineage").to_pylist():
            d = json.loads(raw)
            del d["rollup_format"]
            lineage.append(json.dumps(d))
        t = t.set_column(t.schema.get_field_index("lineage"), "lineage",
                         pa.array(lineage, pa.string()))
        pq.write_table(t, path)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2)


def test_waves_without_turns_commit_zero_rows(spark, tmp_path):
    """Buckets no conversation hashes to still run and commit a zero row,
    also when the job's first wave is one of them (c1 → bucket 2 and
    c2 → bucket 1 of 4, so waves 0 and 3 are empty)."""
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [("c1", 0, "a b", None), ("c1", 1, "", None), ("c2", 0, "x", None)],
        "conv_id string, turn_idx int, text string, tool string",
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    s = run_extract_job(spark, inp, out, n_buckets=4, wave_size=1)
    assert s["n_turns"] == 3
    m = spark.read.parquet(os.path.join(out, "_manifest"))
    assert {r.part_id: r.n_turns for r in m.collect()} == {0: 0, 1: 1, 2: 2, 3: 0}
    spans = spark.read.parquet(os.path.join(out, "spans"))
    assert spans.count() == 2  # the empty turn has no span
