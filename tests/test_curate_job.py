"""Kill-and-resume semantics of the checkpointed curation job — the
manifest pattern generalized to the documents family, plus the phase-0
invariant: a resumed run strips with the SAME committed frequent-line
set as the original run."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ocr_image_to_text_spark.jobs.curate_job import run_curate_job

N_BUCKETS = 8
WAVE = 3
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def seeded_input(spark, tmp_path_factory):
    """Curate the boilerplate-seeded derivation (the raw sandbox corpus
    carries no frequent lines, which would make stripping vacuous)."""
    from ocr_image_to_text_spark.queries import _bp_seeded_docs

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    p = str(tmp_path_factory.mktemp("seeded")) + "/documents.parquet"
    _bp_seeded_docs(docs).write.parquet(p)
    return p


def _curated_sorted(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "curated"))
    cols = sorted(c for c in df.columns if c != "part_id")
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_curate_kill_and_resume_matches_single_shot(
        spark, tmp_path_factory, seeded_input, crash_after_first_wave):
    out_a = str(tmp_path_factory.mktemp("curate_resume"))
    out_b = str(tmp_path_factory.mktemp("curate_single"))

    with crash_after_first_wave():
        run_curate_job(spark, seeded_input, out_a, n_buckets=N_BUCKETS,
                       wave_size=WAVE)
    resumed = run_curate_job(spark, seeded_input, out_a,
                             n_buckets=N_BUCKETS, wave_size=WAVE)
    assert resumed["resumed_parts"] == WAVE
    assert resumed["processed_parts"] == N_BUCKETS - WAVE

    single = run_curate_job(spark, seeded_input, out_b,
                            n_buckets=N_BUCKETS, wave_size=N_BUCKETS)
    assert _curated_sorted(spark, out_a) == _curated_sorted(spark, out_b)
    assert resumed["n_kept"] == single["n_kept"] > 0

    # the gate is non-vacuous: some docs were dropped, and stripping bit
    m = spark.read.parquet(os.path.join(out_a, "_manifest"))
    agg = m.filter(F.col("status") == "done").agg(
        F.sum("n_docs").alias("n"), F.sum("n_kept").alias("k"),
        F.sum("chars_in").alias("ci"), F.sum("chars_out").alias("co")
    ).collect()[0]
    assert agg.k < agg.n
    assert agg.co < agg.ci

    # phase-0 invariant: the resumed run reused the committed bp set
    assert os.path.exists(os.path.join(out_a, "_bp_set", "_SUCCESS"))


def test_curate_resume_refuses_changed_buckets(
        spark, tmp_path_factory, seeded_input, crash_after_first_wave):
    out = str(tmp_path_factory.mktemp("curate_mismatch"))
    with crash_after_first_wave():
        run_curate_job(spark, seeded_input, out, n_buckets=N_BUCKETS,
                       wave_size=WAVE)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_curate_job(spark, seeded_input, out, n_buckets=N_BUCKETS * 2,
                       wave_size=WAVE)
    # the same documents under another path are another input
    moved = str(tmp_path_factory.mktemp("moved")) + "/documents.parquet"
    shutil.copytree(seeded_input, moved)
    with pytest.raises(ValueError, match="resume mismatch"):
        run_curate_job(spark, moved, out, n_buckets=N_BUCKETS,
                       wave_size=WAVE)


def test_curate_matches_independent_oracle(spark, tmp_path, seeded_input):
    """Curated rows and every manifest stat against an expectation built
    without the job's code: a pure-Python frequent-line strip, the DuckDB
    Gopher twin for the keep decision, per-part sums in Python. Bucket
    0's docs are cut to three words, so that part keeps nothing and must
    read 0, not NULL."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from ocr_image_to_text_spark.queries import BP_FRACTION_DEN, BP_MIN_DOCS

    n = 4
    part = F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                  F.lit(n)).cast("int")
    short = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 3))
    inp = str(tmp_path / "documents.parquet")
    (spark.read.parquet(seeded_input)
     .withColumn("text", F.when(part == 0, short).otherwise(F.col("text")))
     .write.parquet(inp))
    rows = [(r.doc_id, r.text, r.p) for r in
            spark.read.parquet(inp).select("doc_id", "text",
                                           part.alias("p")).collect()]

    # CCNet strip: a line is boilerplate when its space-trimmed lower-case
    # form occurs in at least max(BP_MIN_DOCS, n_docs // BP_FRACTION_DEN)
    # documents
    def norm(line):
        return line.strip(" ").lower()

    doc_freq = Counter(key for _, t, _ in rows
                       for key in {norm(x) for x in t.split("\n")} - {""})
    thr = max(BP_MIN_DOCS, len(rows) // BP_FRACTION_DEN)
    bp = {key for key, c in doc_freq.items() if c >= thr}
    stripped = {d: "\n".join(x for x in t.split("\n") if norm(x) not in bp)
                for d, t, _ in rows}
    assert bp and any(len(stripped[d]) < len(t) for d, t, _ in rows)

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"doc_id": list(stripped), "text": list(stripped.values())}))
    keep = dict(con.execute(
        "SELECT doc_id, keep FROM ("
        f"{entrymod.oracle_sql()['doc_quality_gopher']})").fetchall())

    want_stats = {p: [0, 0, 0, 0] for p in range(n)}
    for d, t, p in rows:
        s = want_stats[p]
        s[0] += 1
        s[1] += keep[d]
        s[2] += len(t)
        s[3] += len(stripped[d]) if keep[d] else 0
    assert want_stats[0][0] > 0 and want_stats[0][1] == 0
    assert 0 < sum(s[1] for s in want_stats.values()) < len(rows)

    out = str(tmp_path / "out")
    run_curate_job(spark, inp, out, n_buckets=n, wave_size=2)
    got = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(out, "curated"))
        .select("doc_id", "text", "chars_in", "chars_out").collect())
    assert got == sorted((d, stripped[d], len(t), len(stripped[d]))
                         for d, t, _ in rows if keep[d])
    m = spark.read.parquet(os.path.join(out, "_manifest")).collect()
    assert {r.part_id: [r.n_docs, r.n_kept, r.chars_in, r.chars_out]
            for r in m} == want_stats
