"""Skew dispersion (north_rule salting) and the F6 oversized-payload cap."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ocr_image_to_text_spark.jobs.extract_job import run_extract_job
from ocr_image_to_text_spark.operators.extract import extract_turns
from ocr_image_to_text_spark.transcripts import ensure_transcripts


def test_salted_repartition_spreads_skewed_conversation(spark):
    """A 500-turn conversation must spread across (nearly) all tasks of the
    UDF stage — the salt hashes (conv_id, turn_idx), not conv_id alone."""
    t2 = ensure_transcripts("t2")  # contains 2 skew convs of 500 turns
    df = spark.read.parquet(t2)
    parts = 8
    salted = df.repartition(parts, F.xxhash64("conv_id", "turn_idx"))
    dist = (salted.withColumn("pid", F.spark_partition_id())
            .filter(F.col("conv_id") == "conv-skew-000")
            .groupBy("pid").count().collect())
    assert len(dist) == parts  # every partition got a slice
    counts = [r["count"] for r in dist]
    assert max(counts) < 500 * 0.3  # no partition hoards the conversation

    # contrast: conv_id-only hashing puts the whole conversation in 1 part
    unsalted = df.repartition(parts, F.col("conv_id"))
    dist1 = (unsalted.withColumn("pid", F.spark_partition_id())
             .filter(F.col("conv_id") == "conv-skew-000")
             .select("pid").distinct().count())
    assert dist1 == 1


def test_ngram_df_cap_bounds_hot_shingle_fanout(spark):
    """A stop-word shingle present in every doc must not explode the
    inverted-index join: with df_cap the candidate count is bounded by the
    true near-dup structure, and qualifying pairs (which share rarer
    shingles too) are still found with exact Jaccard values."""
    from ocr_image_to_text_spark import dedup

    n = 60
    hot = "the quick fox"  # one trigram shared by ALL docs
    rows = []
    for i in range(n):
        # pairs (2k, 2k+1) are near-dups; distinct tail breaks other overlap
        body = f"alpha{i // 2} beta{i // 2} gamma{i // 2} delta{i // 2}"
        rows.append((i, f"{hot} {body} tail{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_candidates(docs, df_cap=None).count()
    capped = dedup.ngram_candidates(docs, df_cap=10).count()
    assert uncapped == n * (n - 1) // 2      # hot shingle → all-pairs blowup
    assert capped == n // 2                  # only the true near-dup pairs

    pairs = dedup.ngram_jaccard_pairs(docs, threshold_x1000=100, df_cap=10)
    got = {(r.doc_a, r.doc_b): r.jacc_x1000 for r in pairs.collect()}
    assert set(got) == {(2 * k, 2 * k + 1) for k in range(n // 2)}
    # Jaccard is computed on FULL sets (incl. the hot shingle): the two
    # docs of a pair share all shingles except those touching the distinct
    # tail word — values must match an uncapped run exactly.
    unc = {(r.doc_a, r.doc_b): r.jacc_x1000
           for r in dedup.ngram_jaccard_pairs(docs, threshold_x1000=100,
                                              df_cap=None).collect()}
    assert got == unc


def test_oversized_payload_cap_logged_not_silent(spark, tmp_path):
    tpath = ensure_transcripts("t1")
    out = str(tmp_path / "capped")
    cap = 800
    run_extract_job(spark, tpath, out, n_buckets=4, wave_size=4,
                    max_payload_chars=cap)

    df = spark.read.parquet(tpath)
    size = F.length(F.coalesce("text", F.lit(""))) + F.length(F.coalesce("tool", F.lit("")))
    n_over = df.filter(size > cap).count()
    n_keep = df.count() - n_over
    assert n_over > 0  # the tier actually exercises the cap

    m = spark.read.parquet(os.path.join(out, "_manifest")).filter("status='done'")
    got_over = m.agg(F.sum("n_oversized")).collect()[0][0]
    got_turns = m.agg(F.sum("n_turns")).collect()[0][0]
    assert got_over == n_over          # drops are accounted, per manifest
    assert got_turns == n_keep         # rollup holds exactly the kept turns
    roll = spark.read.parquet(os.path.join(out, "rollup"))
    assert roll.count() == n_keep


def test_resume_rejects_changed_settings(spark, tmp_path,
                                        crash_after_first_wave):
    """Resuming into an existing --out under a different input or payload
    cap would mix rows of two runs, and a manifest committed under another
    layout variant would mix rollups of two layouts — must refuse."""
    import shutil

    import pytest

    from conftest import rewrite_lineage

    tpath = ensure_transcripts("t1")
    out = str(tmp_path / "job")
    with crash_after_first_wave():  # leaves a partial manifest
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2,
                        max_payload_chars=800)
    moved = str(tmp_path / "moved.parquet")
    shutil.copy(tpath, moved)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_extract_job(spark, moved, out, n_buckets=4, wave_size=2)
    partial = str(tmp_path / "partial")
    shutil.copytree(out, partial)
    # unchanged settings resume fine
    s = run_extract_job(spark, tpath, out, n_buckets=4, wave_size=2)
    assert s["resumed_parts"] == 2
    # the job writes the v2 layout only: a partial manifest committed
    # under another variant is refused, not resumed in v2
    rewrite_lineage(os.path.join(partial, "_manifest"),
                    lambda d: d.update(variant="v1"))
    with pytest.raises(ValueError, match="resume mismatch"):
        run_extract_job(spark, tpath, partial, n_buckets=4, wave_size=2)
