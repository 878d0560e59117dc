"""Kill-and-resume semantics of the checkpointed extraction job.

north_rule: "checkpoints per-partition completion with lineage + extraction
metrics ... to a manifest table for resumable restarts". The test kills the
job after one committed wave (its second manifest commit raises), resumes,
and proves the union equals a single-shot run — and that the manifest
records both runs' lineage. The same holds for a crash inside a wave:
after its rollup write, and after its spans write but before its manifest
commit.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_image_to_text_spark.jobs import extract_job, manifest
from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
from ocr_image_to_text_spark.transcripts import ensure_transcripts

from conftest import fail_on_call, rewrite_lineage

N_BUCKETS = 8
WAVE = 3


def _collect_sorted(spark, out_dir, sub):
    df = spark.read.parquet(os.path.join(out_dir, sub))
    cols = sorted(c for c in df.columns if c != "part_id")
    return df.select(*cols).orderBy(*cols).collect()


@pytest.fixture(scope="module")
def tpath():
    return ensure_transcripts("t1")


@pytest.fixture(scope="module")
def single_shot(spark, tmp_path_factory, tpath):
    out = str(tmp_path_factory.mktemp("single_shot"))
    run_extract_job(spark, tpath, out, n_buckets=N_BUCKETS, wave_size=N_BUCKETS)
    return out


def test_kill_and_resume_matches_single_shot(spark, tmp_path_factory, tpath,
                                            single_shot,
                                            crash_after_first_wave):
    out_a = str(tmp_path_factory.mktemp("resume"))

    # Run A: crash after the first committed wave.
    with crash_after_first_wave():
        run_extract_job(spark, tpath, out_a, n_buckets=N_BUCKETS,
                        wave_size=WAVE)
    m1 = spark.read.parquet(os.path.join(out_a, "_manifest"))
    done_parts = {r.part_id for r in m1.filter("status = 'done'").collect()}
    assert 0 < len(done_parts) < N_BUCKETS  # partial progress committed

    # Run A': resume. Must only process the remaining buckets.
    summary = run_extract_job(spark, tpath, out_a,
                              n_buckets=N_BUCKETS, wave_size=WAVE)
    assert summary["resumed_parts"] == len(done_parts)
    assert summary["processed_parts"] == N_BUCKETS - len(done_parts)

    # Run B (the fixture): fresh single-shot.
    for sub in ("rollup", "spans"):
        assert _collect_sorted(spark, out_a, sub) == \
            _collect_sorted(spark, single_shot, sub)

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


def _manifest_totals(spark, out_dir):
    done = spark.read.parquet(os.path.join(out_dir, "_manifest")) \
        .filter("status = 'done'")
    stats = [c for c, _ in extract_job._STATS] + ["n_oversized"]
    return done.agg(*(F.sum(c).alias(c) for c in stats)).collect()[0].asDict()


@pytest.mark.parametrize("module, name", [
    (extract_job, "spans_table"),  # after wave 2's rollup write
    (manifest, "commit"),          # after wave 2's spans write
], ids=["after_rollup_write", "before_manifest_commit"])
def test_crash_inside_a_wave_resumes_row_exact(
        spark, tmp_path, tpath, single_shot, monkeypatch, module, name):
    out = str(tmp_path / "job")
    with monkeypatch.context() as m:
        m.setattr(module, name, fail_on_call(getattr(module, name), 2))
        with pytest.raises(RuntimeError, match="crash point"):
            run_extract_job(spark, tpath, out, n_buckets=N_BUCKETS,
                            wave_size=WAVE)
    mdir = os.path.join(out, "_manifest")
    assert manifest.done_parts(mdir) == set(range(WAVE))  # wave 1 only
    s = run_extract_job(spark, tpath, out, n_buckets=N_BUCKETS, wave_size=WAVE)
    assert (s["resumed_parts"], s["processed_parts"]) == (WAVE, N_BUCKETS - WAVE)
    for sub in ("rollup", "spans"):
        assert _collect_sorted(spark, out, sub) == \
            _collect_sorted(spark, single_shot, sub)
    assert _manifest_totals(spark, out) == _manifest_totals(spark, single_shot)


def test_idempotent_rerun_no_op(spark, tmp_path_factory, tpath):
    out = str(tmp_path_factory.mktemp("noop"))
    run_extract_job(spark, tpath, out, n_buckets=4, wave_size=4)
    s2 = run_extract_job(spark, tpath, out, n_buckets=4, wave_size=4)
    assert s2["processed_parts"] == 0 and s2["resumed_parts"] == 4
    m = spark.read.parquet(os.path.join(out, "_manifest"))
    assert m.filter("status = 'done'").count() == 4  # nothing re-appended


def test_leftover_manifest_temp_file_is_not_a_commit(spark, tmp_path, tpath,
                                                    crash_after_first_wave):
    """A crash between the manifest file write and its rename leaves a
    hidden temp file: Spark, resume and the summary all ignore it, and
    its parts run again."""
    out = str(tmp_path / "job")
    mdir = os.path.join(out, "_manifest")
    with crash_after_first_wave():
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2)
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


def test_resume_refuses_manifest_without_rollup_format(
        spark, tmp_path, tpath, crash_after_first_wave):
    """A manifest written before the lineage recorded the rollup format
    may describe a rollup this code cannot read back: refuse to resume."""
    out = str(tmp_path / "job")
    with crash_after_first_wave():
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2)
    rewrite_lineage(os.path.join(out, "_manifest"),
                    lambda d: d.pop("rollup_format"))
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


def test_unreadable_boxes_payload_fails_its_wave(spark, tmp_path):
    """A boxes payload the oracle cannot read fails the wave loudly:
    no empty page is published and no manifest row is committed for it,
    while earlier waves stay committed (c1 → bucket 2, c2 → bucket 1)."""
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [("c1", 0, "", '{"h": 600, "boxes": ['), ("c2", 0, "x", None)],
        "conv_id string, turn_idx int, text string, tool string",
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="JSONDecodeError"):
        run_extract_job(spark, inp, out, n_buckets=4, wave_size=1)
    assert manifest.done_parts(os.path.join(out, "_manifest")) == {0, 1}
