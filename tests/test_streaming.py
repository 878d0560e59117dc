"""Structured Streaming wrappers: incremental equality with the batch path.

The streaming extraction must produce exactly the batch extraction's
rollup, and a second availableNow run after new files land must process
ONLY the delta (checkpointed file-source log) while the union still
equals batch output over all input — the streaming counterpart of the
manifest-resume property.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from ocr_image_to_text_spark.streaming.pipeline import (
    conversation_progress_stream,
    extract_stream,
    hourly_kind_counts_stream,
)
from ocr_image_to_text_spark.transcripts import ensure_transcripts


@pytest.fixture()
def split_source(tmp_path):
    """t1 transcripts split into two files: initial + late arrival."""
    src = ensure_transcripts("t1")
    t = pq.read_table(src)
    half = t.num_rows // 2
    d = tmp_path / "src"
    d.mkdir()
    pq.write_table(t.slice(0, half), str(d / "part-0.parquet"))
    return d, t, half


def _rollup_cols(df):
    cols = ["conv_id", "turn_idx", "kind", "extracted_text", "n_blocks_kept",
            "n_blocks_dropped", "chars_in", "chars_out", "table_flag"]
    return df.select(*cols).orderBy("conv_id", "turn_idx").collect()


def _write_turns(path, convs, texts, ts):
    """One parquet file of single-turn conversations at event time ts."""
    import pyarrow as pa

    n = len(convs)
    pq.write_table(pa.table({
        "conv_id": pa.array(convs, pa.string()),
        "turn_idx": pa.array([0] * n, pa.int32()),
        "role": pa.array(["user"] * n, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array([""] * n, pa.string()),
        "ts": pa.array([ts] * n, pa.timestamp("us")),
    }), str(path))


def test_extract_stream_incremental_matches_batch(spark, tmp_path, split_source):
    from ocr_image_to_text_spark.operators.extract import extract_turns

    d, t, half = split_source
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    extract_stream(spark, str(d), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == half

    # late file lands; availableNow again → only the delta is processed
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    extract_stream(spark, str(d), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == t.num_rows

    batch = extract_turns(spark.read.parquet(str(d)))
    assert _rollup_cols(got) == _rollup_cols(batch)


def test_hourly_kind_counts_stream(spark, tmp_path, split_source):
    """Append mode emits a window only once the watermark passes its end —
    so the stream output must (a) agree with batch on every emitted window
    and (b) contain ALL windows closed by the final watermark
    (max event time - 1h). Later windows legitimately stay in state."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.operators.extract import kind_col

    d, t, half = split_source
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    out, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")
    hourly_kind_counts_stream(spark, str(d), out, ckpt)

    got = {(r.hour_start, r.kind): r.n_turns
           for r in spark.read.parquet(out).collect()}
    batch = spark.read.parquet(str(d)).withColumn("kind", kind_col())
    exp = {(r.hour_start, r.kind): r.n_turns for r in
           batch.groupBy(F.date_trunc("hour", "ts").alias("hour_start"), "kind")
           .agg(F.count("*").alias("n_turns")).collect()}
    assert got, "no windows emitted"
    for k, v in got.items():
        assert exp[k] == v  # every emitted window agrees with batch
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    closed = max_ts - dt.timedelta(hours=1)
    missing = [k for k in exp
               if k[0] + dt.timedelta(hours=1) <= closed and k not in got]
    assert not missing  # all watermark-closed windows were emitted


def test_conversation_progress_stateful(spark, tmp_path, split_source):
    from pyspark.sql import functions as F

    d, t, half = split_source
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    conversation_progress_stream(spark, str(d), out, ckpt)

    # update-mode sink may emit a conversation several times; the LAST
    # (max n_turns) row per conv must equal the batch totals
    got = (spark.read.parquet(out).groupBy("conv_id")
           .agg(F.max("n_turns").alias("n_turns"), F.max("chars").alias("chars"),
                F.max("last_turn_idx").alias("last_turn_idx")))
    exp = (spark.read.parquet(str(d)).groupBy("conv_id")
           .agg(F.count("*").alias("n_turns"),
                (F.sum(F.length("text")) + F.sum(F.length("tool"))).alias("chars"),
                F.max("turn_idx").cast("long").alias("last_turn_idx")))
    key = ["conv_id", "n_turns", "chars", "last_turn_idx"]
    assert sorted(map(tuple, got.select(*key).collect())) == \
        sorted(map(tuple, exp.select(*key).collect()))


def test_dedup_stream_drops_watermark_horizon_duplicates(spark, tmp_path, split_source):
    """Streaming exact dedup: the emitted rows carry pairwise-distinct
    text hashes, cover every distinct batch hash, and keep a first
    occurrence — with state bounded by the watermark, not history."""
    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.streaming.pipeline import dedup_stream

    d, t, half = split_source
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    out, ckpt = str(tmp_path / "dout"), str(tmp_path / "dckpt")
    # t1 spans a short interval; a huge watermark keeps every hash in
    # state for the whole run, so the emitted set must be EXACTLY the
    # batch-distinct set
    dedup_stream(spark, str(d), out, ckpt, watermark="365 days")

    got = spark.read.parquet(out)
    n_rows = got.count()
    n_hashes = got.select("text_hash").distinct().count()
    assert n_rows == n_hashes  # no duplicate survived
    exp_hashes = (spark.read.parquet(str(d))
                  .select(F.md5("text").alias("h")).distinct().count())
    assert n_hashes == exp_hashes  # nothing was lost


def test_decontaminate_stream_equals_batch_filter(spark, tmp_path, split_source):
    """Streaming decontamination must emit exactly the turns the batch
    gram-overlap filter keeps (incremental == batch)."""
    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.dedup import shingle_array
    from ocr_image_to_text_spark.streaming.pipeline import decontaminate_stream

    d, t, half = split_source
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))

    batch = spark.read.parquet(str(d))
    # benchmark grams = the 3-grams of the two longest turns (guarantees
    # overlap hits without hand-picking corpus content)
    bench_rows = (batch.orderBy(F.length("text").desc(), "conv_id", "turn_idx")
                  .limit(2).select(F.explode(shingle_array()).alias("g"))
                  .collect())
    bench = [r.g for r in bench_rows]
    assert bench, "fixture must yield benchmark grams"

    out, ckpt = str(tmp_path / "dcout"), str(tmp_path / "dcckpt")
    decontaminate_stream(spark, str(d), bench, out, ckpt)

    got = {(r.conv_id, r.turn_idx) for r in spark.read.parquet(out).collect()}
    barr = F.array(*[F.lit(g) for g in sorted(set(bench))])
    want = {(r.conv_id, r.turn_idx)
            for r in batch.filter(~F.arrays_overlap(shingle_array(), barr))
            .collect()}
    assert got == want
    assert len(want) < batch.count()  # the filter actually dropped turns


def test_minhash_candidates_stream_equals_batch(spark, tmp_path, split_source):
    """Streaming MinHash-band near-dup candidates: the distinct pair set
    emitted across an initial run plus a late-arrival availableNow run
    must equal the batch band-bucket self-join over ALL turns — state
    (band buckets) carries wave-1 members so wave-2 arrivals pair with
    them across runs. The horizon is kept wider than the fixture's time
    span so no bucket expires mid-test (expiry semantics are the
    documented lossy part, like every watermark). t1 itself holds no
    near-duplicate turns, so one sentence is seeded in two conversations
    before run 1 and in a third before run 2."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.dedup import minhash_band_rows
    from ocr_image_to_text_spark.streaming.pipeline import (
        minhash_candidates_stream)

    d, t, half = split_source
    out, ckpt = str(tmp_path / "mhout"), str(tmp_path / "mhckpt")
    year_ms = 365 * 24 * 3600 * 1000
    seed = "the quick brown fox jumps over the lazy dog near the river"
    t0 = dt.datetime(2024, 1, 1)
    _write_turns(d / "seed-0.parquet", ["seed-a", "seed-b"], [seed] * 2, t0)
    minhash_candidates_stream(spark, str(d), out, ckpt,
                              watermark="365 days", horizon_ms=year_ms)
    n_first = spark.read.parquet(out).distinct().count()

    # late wave lands; second availableNow run pairs it against the
    # band-bucket members the checkpointed state kept from wave 1
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    _write_turns(d / "seed-1.parquet", ["seed-c"], [seed], t0)
    minhash_candidates_stream(spark, str(d), out, ckpt,
                              watermark="365 days", horizon_ms=year_ms)

    got = {(r.conv_a, r.turn_a, r.conv_b, r.turn_b)
           for r in spark.read.parquet(out).collect()}

    rows = minhash_band_rows(spark.read.parquet(str(d)),
                             id_cols=("conv_id", "turn_idx"))
    a, b = rows.alias("a"), rows.alias("b")
    batch = (a.join(b, ["band", "band_key"])
             .filter((F.col("a.conv_id") < F.col("b.conv_id"))
                     | ((F.col("a.conv_id") == F.col("b.conv_id"))
                        & (F.col("a.turn_idx") < F.col("b.turn_idx"))))
             .select(F.col("a.conv_id").alias("conv_a"),
                     F.col("a.turn_idx").cast("long").alias("turn_a"),
                     F.col("b.conv_id").alias("conv_b"),
                     F.col("b.turn_idx").cast("long").alias("turn_b"))
             .distinct())
    want = {(r.conv_a, r.turn_a, r.conv_b, r.turn_b)
            for r in batch.collect()}
    assert got == want
    assert want, "fixture must produce near-dup candidates"
    assert 0 < n_first < len(got), "wave 2 added cross-wave candidate pairs"


def test_minhash_candidates_skip_wordless_turns(spark, tmp_path):
    """Turns with no word (empty, all whitespace, NULL) share identical
    band keys in every band; they are not near-duplicates of each other
    and must never pair. Only the two identical sentences do."""
    import datetime as dt

    from ocr_image_to_text_spark.streaming.pipeline import (
        minhash_candidates_stream)

    d = tmp_path / "src"
    d.mkdir()
    sentence = "the quick brown fox jumps over the lazy dog tonight"
    texts = ["", "", "   ", "\t\n", None, None, sentence, sentence]
    _write_turns(d / "w0.parquet", [f"c{i}" for i in range(8)], texts,
                 dt.datetime(2024, 1, 1))
    out, ckpt = str(tmp_path / "wlout"), str(tmp_path / "wlckpt")
    minhash_candidates_stream(spark, str(d), out, ckpt,
                              watermark="365 days",
                              horizon_ms=365 * 24 * 3600 * 1000)
    got = {(r.conv_a, r.conv_b) for r in spark.read.parquet(out).collect()}
    assert got == {("c6", "c7")}


def test_minhash_candidates_bucket_expiry(spark, tmp_path):
    """State boundedness: a band bucket whose timeout (last member ts +
    horizon) falls behind the advancing watermark is EVICTED, so a much
    later arrival with the same band key does not pair with it. Three
    identical texts A@t0, B@t0+3h, C@t0+6h with a 1h horizon:
    (A,B) pairs in run 2 (the checkpointed watermark still trails A's
    timeout — watermark semantics, eviction is never early), run 2's
    final watermark (B - 1h) then passes A's timeout and clears it, so
    run 3 pairs (B,C) but never (A,C)."""
    import datetime as dt

    import pyarrow as pa

    from ocr_image_to_text_spark.streaming.pipeline import (
        minhash_candidates_stream)

    d = tmp_path / "src"
    d.mkdir()
    out, ckpt = str(tmp_path / "exout"), str(tmp_path / "exckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    text = "the quick brown fox jumps over the lazy dog tonight"

    def wave(fname, conv, ts):
        tbl = pa.table({
            "conv_id": pa.array([conv], pa.string()),
            "turn_idx": pa.array([0], pa.int32()),
            "role": pa.array(["user"], pa.string()),
            "text": pa.array([text], pa.string()),
            "tool": pa.array([""], pa.string()),
            "ts": pa.array([ts], pa.timestamp("us")),
        })
        pq.write_table(tbl, str(d / fname))

    hour_ms = 3600 * 1000
    wave("w0.parquet", "conv-A", t0)
    minhash_candidates_stream(spark, str(d), out, ckpt,
                              watermark="1 hour", horizon_ms=hour_ms)
    wave("w1.parquet", "conv-B", t0 + dt.timedelta(hours=3))
    minhash_candidates_stream(spark, str(d), out, ckpt,
                              watermark="1 hour", horizon_ms=hour_ms)
    wave("w2.parquet", "conv-C", t0 + dt.timedelta(hours=6))
    minhash_candidates_stream(spark, str(d), out, ckpt,
                              watermark="1 hour", horizon_ms=hour_ms)

    got = {(r.conv_a, r.conv_b)
           for r in spark.read.parquet(out).collect()}
    assert ("conv-A", "conv-B") in got  # within A's residency window
    assert ("conv-B", "conv-C") in got  # B still resident at C
    assert ("conv-A", "conv-C") not in got  # A's bucket was evicted


def test_quality_gate_stream_equals_batch(spark, tmp_path, split_source):
    """Streaming Gopher-gate + redaction must equal the batch filter +
    redaction over the same turns, including across a late-arrival
    second availableNow run (delta-only processing)."""
    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.functions.textfn import redact_col
    from ocr_image_to_text_spark.queries import _gopher_metrics
    from ocr_image_to_text_spark.streaming.pipeline import quality_gate_stream

    d, t, half = split_source
    out, ckpt = str(tmp_path / "qgout"), str(tmp_path / "qgckpt")
    quality_gate_stream(spark, str(d), out, ckpt)
    n_first = spark.read.parquet(out).count()

    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    quality_gate_stream(spark, str(d), out, ckpt)

    got = {(r.conv_id, r.turn_idx): r.redacted_text
           for r in spark.read.parquet(out).collect()}
    batch = spark.read.parquet(str(d))
    keep = _gopher_metrics(F.col("text"))["keep"]
    want = {(r.conv_id, r.turn_idx): r.rt
            for r in batch.filter(keep)
            .select("conv_id", "turn_idx",
                    redact_col(F.col("text")).alias("rt")).collect()}
    assert got == want
    assert 0 < n_first < len(want), "second run processed only the delta"
    assert len(want) < batch.count(), "the gate actually dropped turns"


def test_boilerplate_strip_stream_equals_batch(spark, tmp_path, split_source):
    """Streaming boilerplate stripping must equal the batch array_filter
    over the same turns, including a late-arrival second availableNow
    run (delta-only processing), and must actually drop the gated line."""
    from pyspark.sql import functions as F

    from ocr_image_to_text_spark.streaming.pipeline import (
        boilerplate_strip_stream)

    d, t, half = split_source
    # gated set: the most frequent normalized line across the fixture
    # plus a never-present control line
    batch0 = spark.read.parquet(str(d))
    top = (batch0.select(F.explode(F.split("text", "\n", -1)).alias("l"))
           .select(F.trim(F.lower("l")).alias("l")).filter(F.col("l") != "")
           .groupBy("l").count().orderBy(F.desc("count"), "l").limit(1)
           .collect())
    bp = [top[0]["l"], "never present control line"]

    out, ckpt = str(tmp_path / "bpout"), str(tmp_path / "bpckpt")
    boilerplate_strip_stream(spark, str(d), bp, out, ckpt)
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    boilerplate_strip_stream(spark, str(d), bp, out, ckpt)

    got = {(r.conv_id, r.turn_idx): (r.clean_text, r.n_lines, r.n_kept_lines)
           for r in spark.read.parquet(out).collect()}
    batch = spark.read.parquet(str(d))
    bset = F.array(*[F.lit(s) for s in sorted(set(bp))])
    lines = F.split(F.col("text"), "\n", -1)
    kept = F.filter(lines, lambda line: ~F.array_contains(
        bset, F.trim(F.lower(line))))
    want = {(r.conv_id, r.turn_idx): (r.ct, r.nl, r.nk)
            for r in batch.select(
                "conv_id", "turn_idx",
                F.concat_ws("\n", kept).alias("ct"),
                F.size(lines).cast("long").alias("nl"),
                F.size(kept).cast("long").alias("nk")).collect()}
    assert got == want
    assert any(nl != nk for (_, nl, nk) in got.values())  # gate really fired
