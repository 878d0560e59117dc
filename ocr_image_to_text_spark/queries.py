"""Named queries over the engine — the driver-facing operator catalog.

Every function takes (spark, sf_dir) and returns a DataFrame; each has a
DuckDB oracle twin in __spark_entry__.oracle_sql(). Extraction queries run
the full pipeline on the deterministic transcripts table for the tier
matching sf_dir; analytics run over the driver-provided documents /
embeddings / events parquet in sf_dir.
"""

from __future__ import annotations

import os

import pandas as pd  # module-level: pandas_udf resolves stringified hints here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import dedup, similarity
from .functions import textfn
from .golden import ensure_goldens_for_sf_dir
from .cachectl import tracked_cache
from .operators.extract import extract_turns, spans_table
from .transcripts import ensure_transcripts_for_sf_dir

KEYWORD_QUERY_WORDS = ["data", "engine", "filter", "quality", "spark"]


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .transcripts import tier_for_sf_dir

    path = ensure_transcripts_for_sf_dir(sf_dir)
    # Oracle parquet for the DuckDB side — only at correctness tiers; the
    # bench tier (sf0.1) is timed, never oracle-compared, and the goldens
    # are a pure-Python pass over every turn.
    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_goldens_for_sf_dir(sf_dir)
    return spark.read.parquet(path)


# Session-scoped extraction cache: several queries (spans, stitch, chunks,
# cube) consume the same per-turn extraction; persisting it once per
# (session, tier) means the UDF pass runs once per session instead of once
# per query. Of the spans only the int span_starts array is cached; the
# line texts are re-split by spans_table (caching the string arrays in the
# block store measured 3x GC wall at high concurrency).
_EXT_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _extracted(spark: SparkSession, sf_dir: str, variant: str = "v2") -> DataFrame:
    app_id = spark.sparkContext.applicationId
    # Evict entries from previous sessions: their persisted blocks are gone
    # with the old context, and long-lived processes cycling sessions would
    # otherwise accumulate dead entries (and live ones leak block-store
    # memory across tiers a restarted session never touches again).
    for k in [k for k in _EXT_CACHE if k[0] != app_id]:
        try:
            _EXT_CACHE[k].unpersist()
        except Exception:
            pass  # old context already stopped
        del _EXT_CACHE[k]
    key = (app_id, os.path.normpath(sf_dir), variant)
    cached = _EXT_CACHE.get(key)
    if cached is None:
        cached = extract_turns(_transcripts(spark, sf_dir), variant=variant,
                               extras=True).persist()
        _EXT_CACHE[key] = cached
    return cached


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Re-spread under-partitioned inputs across the executor cores.

    The driver's small-SF parquet arrives as a single split, serializing
    CPU-heavy expression stages onto one core. At production scale inputs
    already carry >= defaultParallelism splits and this is a no-op.

    Detection uses driver-side file metadata only (inputFiles + sizes):
    the former df.rdd.getNumPartitions() built the Python RDD conversion
    eagerly per query — an unnecessary analysis pass (VERDICT r2 #5).
    Spark can split a scan to ~ceil(bytes / maxPartitionBytes) tasks, so
    a source whose total size cannot yield p splits is under-partitioned.
    """
    p = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if not files:
            return df
        total = 0
        for f in files:
            path = f[7:] if f.startswith("file:") and f[5:7] == "//" else f
            if path.startswith("file:"):
                path = path[5:]
            total += os.path.getsize(path)
        try:
            raw = spark.conf.get("spark.sql.files.maxPartitionBytes")
            max_pb = int(raw.lower().rstrip("b"))
        except Exception:
            max_pb = 128 * 1024 * 1024
        return df.repartition(p) if total < p * max_pb else df
    except Exception:
        # non-local / non-file sources: assume well-partitioned at scale
        return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


# ---------------------------------------------------------------------------
# Extraction pipeline queries (oracle = pure-Python golden parquet)
# ---------------------------------------------------------------------------


def extract_rollup(spark, sf_dir):
    return _extracted(spark, sf_dir).select(
        "conv_id", "turn_idx", "kind", "extracted_text", "n_blocks_kept",
        "n_blocks_dropped", "chars_in", "chars_out", "table_flag")


def extract_spans(spark, sf_dir):
    return spans_table(_extracted(spark, sf_dir))


def extract_boxes_v1(spark, sf_dir):
    return (_extracted(spark, sf_dir, variant="v1").filter(F.col("kind") == "boxes")
            .select("conv_id", "turn_idx", "extracted_text"))


def extract_boxes_v3(spark, sf_dir):
    return (_extracted(spark, sf_dir, variant="v3").filter(F.col("kind") == "boxes")
            .select("conv_id", "turn_idx", "extracted_text"))


def extract_kind_metrics(spark, sf_dir):
    return (_extracted(spark, sf_dir).groupBy("kind").agg(
        F.count("*").alias("n_turns"),
        F.sum("chars_in").alias("sum_chars_in"),
        F.sum("chars_out").alias("sum_chars_out"),
        F.sum("n_blocks_kept").alias("sum_blocks_kept"),
        F.sum("n_blocks_dropped").alias("sum_blocks_dropped"),
    ))


def conversation_stitch(spark, sf_dir, bucket: int = 1024):
    """X11b page stitching per conversation — two-phase ordered concat.

    Phase 1 pre-aggregates turn buckets (bounds per-group state for skewed
    10^6-turn conversations); phase 2 merges ordered buckets. Never a
    single-task whole-conversation sort.
    """
    ext = _extracted(spark, sf_dir)
    b = ext.select(
        "conv_id", "turn_idx", "extracted_text",
        (F.col("turn_idx") / bucket).cast("int").alias("bkt"))
    p1 = b.groupBy("conv_id", "bkt").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", "extracted_text"))).alias("arr"))
    p2 = p1.groupBy("conv_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bkt", "arr"))),
                lambda x: x["arr"],
            )
        ).alias("turns"))
    stitched = F.array_join(
        F.transform(
            F.transform(F.col("turns"), lambda t: t["extracted_text"]),
            lambda t, i: F.concat(F.lit("--- Page "), (i + 1).cast("string"),
                                  F.lit(" ---\n"), t),
        ),
        "\n\n",
    )
    return p2.select("conv_id", stitched.alias("stitched"))


def extract_flat(spark, sf_dir):
    """A5 — flat ' '-join of conf-filtered detections in detection order
    (ocr_core/easyocr_reader.py:22; no layout). Served from the session
    extraction cache — the fused dispatch UDF parses the boxes JSON once
    per turn per session for rollup, flat AND avg-conf. Oracle = pyref
    golden."""
    return (_extracted(spark, sf_dir).filter(F.col("kind") == "boxes")
            .select("conv_id", "turn_idx", "flat_text"))


def conversation_stitch_v1(spark, sf_dir, bucket: int = 1024):
    """X11a stitching (src/core/ocr_engine.py:128): accumulating
    '--- PAGE {i+1} ---\\n{text}\\n\\n' — same two-phase ordered concat as
    conversation_stitch, different envelope."""
    ext = _extracted(spark, sf_dir)
    b = ext.select(
        "conv_id", "turn_idx", "extracted_text",
        (F.col("turn_idx") / bucket).cast("int").alias("bkt"))
    p1 = b.groupBy("conv_id", "bkt").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", "extracted_text"))).alias("arr"))
    p2 = p1.groupBy("conv_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bkt", "arr"))),
                lambda x: x["arr"],
            )
        ).alias("turns"))
    stitched = F.array_join(
        F.transform(
            F.transform(F.col("turns"), lambda t: t["extracted_text"]),
            lambda t, i: F.concat(F.lit("--- PAGE "), (i + 1).cast("string"),
                                  F.lit(" ---\n"), t, F.lit("\n\n")),
        ),
        "",
    )
    return p2.select("conv_id", stitched.alias("stitched"))


def conversation_preview_t4(spark, sf_dir, n_lines: int = 10):
    """T4 — first-10-lines numbered preview
    (test_precision_layout.py:207-211): lines = text.split('\\n')[:10],
    each rendered '%2d: %s' (1-based, space-padded), plus a truncated
    flag when more lines exist. Was the last §2 row left test-only;
    implemented here over the stitched conversation text (the document
    analog of the reference's precision_text). Zero extra shuffle: one
    split + slice + indexed transform over conversation_stitch's
    output — the preview never explodes to per-line rows.

    Output: (conv_id, preview, truncated)."""
    st = conversation_stitch(spark, sf_dir)
    lines = F.split(F.col("stitched"), "\n")
    numbered = F.transform(
        F.slice(lines, 1, n_lines),
        lambda ln, i: F.format_string("%2d: %s", i + F.lit(1), ln))
    return st.select(
        "conv_id",
        F.array_join(numbered, "\n").alias("preview"),
        (F.size(lines) > n_lines).cast("long").alias("truncated"))


def extract_similarity_x16(spark, sf_dir):
    """X16 benchmark similarity (src/ocr_benchmark.py:21-25): difflib
    ratio between the v2 and v1 layout of each boxes turn — the per-item
    accuracy column of the reference's benchmark table (A12 input).

    Both sides come from the session extraction cache; the join is a
    co-partitioned equi-join on (conv_id, turn_idx). Oracle = pyref golden
    (ensure_sim_x16_golden)."""
    from .functions.simratio import sim_ratio_udf
    from .golden import ensure_sim_x16_golden
    from .transcripts import tier_for_sf_dir

    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_sim_x16_golden(sf_dir)
    v2 = (_extracted(spark, sf_dir).filter(F.col("kind") == "boxes")
          .select("conv_id", "turn_idx", F.col("extracted_text").alias("t2")))
    v1 = (_extracted(spark, sf_dir, variant="v1").filter(F.col("kind") == "boxes")
          .select("conv_id", "turn_idx", F.col("extracted_text").alias("t1")))
    ratio = sim_ratio_udf(F.col("t2"), F.col("t1"))
    return (v2.join(v1, ["conv_id", "turn_idx"])
            .select("conv_id", "turn_idx",
                    F.floor(ratio * 1e9 + F.lit(0.5)).cast("long").alias("ratio_x1e9")))


def boxes_table_flags(spark, sf_dir):
    return (_extracted(spark, sf_dir).filter(F.col("kind") == "boxes")
            .select("conv_id", "turn_idx", "table_flag"))


def chunks_modern(spark, sf_dir):
    """X3 chunker over extracted turn text (pandas UDF); oracle = pyref
    split_text_into_chunks materialized to golden parquet
    (golden.ensure_chunks_golden)."""
    from .golden import ensure_chunks_golden
    from .operators.chunker import split_chunks_udf
    from .transcripts import tier_for_sf_dir

    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_chunks_golden(sf_dir)
    ext = _extracted(spark, sf_dir)
    return (ext.filter(F.length("extracted_text") > 0)
            .select("conv_id", "turn_idx",
                    F.posexplode(split_chunks_udf(F.col("extracted_text")))
                    .alias("chunk_idx", "chunk")))


# ---------------------------------------------------------------------------
# Documents analytics (real DuckDB SQL oracles)
# ---------------------------------------------------------------------------


def _entities_over(docs):
    """X7 — one scan: the four entity families become one concatenated
    array of (entity_type, entity) structs exploded once, instead of a
    4-branch union that reads the table four times."""

    def tag(et):
        # NB: the lambda must be unary — a second parameter would make
        # Spark pass the ARRAY INDEX into it (transform's (x, i) form)
        return F.transform(
            textfn.entity_matches(F.col("text"), et),
            lambda e: F.struct(F.lit(et).alias("entity_type"),
                               e.alias("entity")))

    tagged = F.concat(*[tag(et) for et in ("date", "email", "phone", "url")])
    return (docs.select("doc_id", F.explode(tagged).alias("s"))
            .select("doc_id", F.col("s.entity_type").alias("entity_type"),
                    F.col("s.entity").alias("entity")))


def doc_entities(spark, sf_dir):
    """X7 entity extraction (ocr_app/utils/text_utils.py:191-231) over
    the organic corpus UNION a deterministically seeded twin (doc_id
    offset by ENTITY_SEED_OFFSET). The driver's synthetic documents
    carry no natural entities, so the organic half alone certified
    nothing (0 rows both sides, VERDICT r3 wrong-#2); the seeded half
    guarantees >0 rows per pattern while the organic half still scans
    the raw corpus, so a regex that over-matches clean prose now fails
    the hash too."""
    docs = _docs(spark, sf_dir)
    seeded_text = F.concat(
        F.coalesce(F.col("text"), F.lit("")),  # null text still seeds
        F.format_string(ENTITY_SEED_FMT, F.col("doc_id"), F.col("doc_id")))
    # one corpus scan, not a UNION of two (a union of the same source
    # reads the parquet twice — 2× scan at 100 TB): each row explodes
    # into its organic and seeded twin map-side.
    pair = F.array(
        F.struct(F.col("doc_id").cast("long").alias("doc_id"),
                 F.col("text").alias("text")),
        F.struct((F.col("doc_id") + F.lit(ENTITY_SEED_OFFSET)).cast("long")
                 .alias("doc_id"), seeded_text.alias("text")))
    u = (docs.select(F.explode(pair).alias("s"))
         .select(F.col("s.doc_id").alias("doc_id"),
                 F.col("s.text").alias("text")))
    return _entities_over(u)


ENTITY_SEED_OFFSET = 10_000_000

# Deterministic per-doc suffix exercising ALL FIVE X7 patterns
# (ocr_app/utils/text_utils.py:208-230): date slash + date ISO + date
# month-name, email, phone, url. The driver's documents corpus carries no
# natural entities, so plain doc_entities is vacuously green (0 rows both
# sides, VERDICT r2 #2); this seeded twin makes the driver-level oracle
# bite — a regex regression now fails the hash, not just a unit test.
ENTITY_SEED_FMT = (" Contact user%d@example.com on 12/05/2024 or 2024-05-12 "
                   "or Jan 5, 2024; call +1 (555) 123-4567; "
                   "see https://d%d.example.com")


def doc_entities_seeded(spark, sf_dir):
    """X7 over a deterministically entity-seeded derivation of documents;
    the DuckDB oracle constructs the identical text and restates the five
    regexes independently, so the row values certify every pattern."""
    docs = _docs(spark, sf_dir)
    seeded = F.concat(
        F.col("text"),
        F.format_string(ENTITY_SEED_FMT, F.col("doc_id"), F.col("doc_id")))
    return _entities_over(docs.select("doc_id", seeded.alias("text")))


def doc_redact(spark, sf_dir):
    """PII redaction over the entity-seeded corpus: mask every X7
    email/phone/url match with a typed placeholder and report per-class
    match counts (counted pre-redaction). The DuckDB oracle rebuilds the
    identical seeded text and chains the same regexp_replace sequence
    with the 'g' flag, so both the masking and the counts are certified
    value-exact. Pure JVM regexp_replace — whole-stage codegen, never a
    key shuffle (the only Exchange is the `_spread` small-SF round-robin
    shim, a no-op at scale): at 100 TB this is a map-only pass."""
    docs = _docs(spark, sf_dir)
    seeded = F.concat(
        F.col("text"),
        F.format_string(ENTITY_SEED_FMT, F.col("doc_id"), F.col("doc_id")))
    d = docs.select("doc_id", seeded.alias("text"))
    return d.select(
        "doc_id",
        textfn.redact_col(F.col("text")).alias("redacted_text"),
        *[F.size(textfn.entity_matches(F.col("text"), e))
          .cast("long").alias(f"n_{e}")
          for e in textfn.REDACT_ORDER])


def doc_lang(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", textfn.lang_col(F.col("text")).alias("lang_detected"))


def doc_lang_ngram(spark, sf_dir):
    """X8 primary-path analog: deterministic stopword-profile language ID
    (stand-in for the stochastic langdetect call, text_utils.py:171-189)."""
    return _docs(spark, sf_dir).select(
        "doc_id", textfn.lang_ngram_col(F.col("text")).alias("lang_detected"))


def doc_stats(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", *textfn.stats_cols(F.col("text")))


def doc_quality_v1(spark, sf_dir):
    score = textfn.score_v1_col(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("score_x1e6"))


def doc_quality_v2(spark, sf_dir):
    score = textfn.score_v2_col(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id", F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("score_x1e6"))


def doc_best_engine(spark, sf_dir):
    """A8 argmax over two deterministic candidates (full text vs 100-char cut)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        textfn.best_of_col(F.col("text"), F.substring(F.col("text"), 1, 100))
        .alias("winner"))


def doc_engine_fallback(spark, sf_dir):
    """§2.11 fallback chain (ocr_engine.py:388-413): coalesce(nullif(...))
    over ordered engine candidates — first non-empty wins, else ''.

    Candidates are deterministic text transforms standing in for engine
    outputs: primary = text after the 100-char mark (empty for short
    docs), secondary = first 100 chars, tertiary = literal fallback."""
    docs = _docs(spark, sf_dir)
    # suffix to end-of-string (no silent length cap — matches the oracle's
    # two-argument substr(text, 101))
    primary = F.expr("substring(text, 101)")
    secondary = F.substring(F.col("text"), 1, 100)
    return docs.select(
        "doc_id",
        F.coalesce(F.nullif(primary, F.lit("")),
                   F.nullif(secondary, F.lit("")),
                   F.lit("")).alias("result"))


def doc_chunks_legacy(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    starts, chunks = textfn.chunks_legacy_cols(F.col("text"))
    return docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")) \
        .withColumn("chunk_idx", F.col("chunk_idx").cast("long"))


def doc_keyword_score_x5(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    chunk_lower = F.lower(F.col("text"))
    chunk_words = F.regexp_extract_all(chunk_lower, F.lit(r"\w+"), 0)
    qw = F.array(*[F.lit(w) for w in KEYWORD_QUERY_WORDS])
    wm = F.size(F.filter(qw, lambda w: F.array_contains(chunk_words, w)))
    pm = F.size(F.filter(qw, lambda w: (F.length(w) > 3) & F.contains(chunk_lower, w)))
    return docs.select("doc_id", (wm * 5 + pm * 10).cast("long").alias("score_x10"))


def doc_topk_keyword_x6(spark, sf_dir, k: int = 3):
    """X6 top-k. orderBy().limit(k) compiles to TakeOrderedAndProject —
    per-partition top-k + driver merge of k·p rows, never the
    single-partition global-window sort of the whole corpus. The rank
    window runs AFTER the limit, over ≤ k rows."""
    docs = _docs(spark, sf_dir)
    score = textfn.keyword_score_x6_col(F.col("text"), KEYWORD_QUERY_WORDS)
    order = [F.desc("score"), F.asc("doc_id")]
    top = (docs.select("doc_id", score.alias("score"))
           .filter(F.col("score") > 0)
           .orderBy(*order)
           .limit(k))
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))


def doc_sentences(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.posexplode(textfn.sentences_col(F.col("text"))).alias("sentence_idx", "sentence")
    ).withColumn("sentence_idx", F.col("sentence_idx").cast("long"))


def doc_markdown(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", textfn.markdown_col(F.col("text")).alias("formatted"))


def doc_html(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", textfn.html_fmt_col(F.col("text")).alias("formatted"))


def doc_token_counts(spark, sf_dir):
    return _docs(spark, sf_dir).select("doc_id", *textfn.token_count_cols(F.col("text")))


def doc_fingerprints(spark, sf_dir):
    from .operators.fingerprint import fingerprint_udf

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", fingerprint_udf(F.col("text")).alias("fp")) \
        .select("doc_id", F.col("fp.n_fp").alias("n_fp"),
                F.col("fp.min_fp").alias("min_fp"), F.col("fp.max_fp").alias("max_fp"))


def extract_angle_mode(spark, sf_dir):
    """A14 — histogram-mode orientation per boxes turn
    (src/ocr_module.py:148-167, src/ocr/preprocessor.py:145-171): 180-bin
    Hough-normal histogram argmax over the v2-clustered text lines' angles
    → (theta_mode, skew_deg, rotation, n_lines). Oracle = pyref golden
    (ensure_angle_golden — pure-Python math over the same payloads).

    Plan: JVM kind sniff (pushed filter) → ONE ArrowEvalPython over the
    boxes payloads only → null-drop. No shuffle at all — the histogram is
    per-turn, so the whole query is map-side and scales linearly."""
    from .golden import ensure_angle_golden
    from .operators.angle import angle_mode_udf
    from .operators.extract import kind_col
    from .transcripts import tier_for_sf_dir

    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_angle_golden(sf_dir)
    t = _transcripts(spark, sf_dir)
    return (t.filter(kind_col() == "boxes")
            .select("conv_id", "turn_idx", angle_mode_udf(F.col("tool")).alias("a"))
            .select("conv_id", "turn_idx", "a.theta_mode", "a.skew_deg",
                    "a.rotation", "a.n_lines")
            .filter(F.col("theta_mode").isNotNull()))


def boxes_avg_conf(spark, sf_dir):
    """A9 — mean kept-token confidence per boxes turn; 0 when no token
    survives the filter (ocr_core/easyocr_reader.py:24 — np.mean over kept
    confidences, else 0.0; no early return, every boxes turn reports).

    Served from the session extraction cache (same fused-UDF JSON parse as
    the rollup); the oracle is the pyref golden (ensure_avg_conf_golden),
    never this UDF."""
    from .golden import ensure_avg_conf_golden

    ensure_avg_conf_golden(sf_dir)
    return (_extracted(spark, sf_dir).filter(F.col("kind") == "boxes")
            .select("conv_id", "turn_idx", "avg_conf_x1e9"))


def extract_metrics_cube(spark, sf_dir):
    """A12 benchmark-rollup analog: CUBE over (kind, table_flag).

    Grouping-sets coverage (SURVEY §2.4 A12 uses pandas groupby slices;
    cube computes all slices in one shuffle)."""
    ext = _extracted(spark, sf_dir)
    return (ext.cube("kind", "table_flag")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("chars_out").alias("sum_chars_out")))


def extract_conv_quality(spark, sf_dir):
    """Per-conversation extraction-quality rollup over the per-turn
    extraction output: turn counts, char in/out totals, block keep-ratio
    (floor(1000·kept/(kept+dropped))), and empty-extraction turn count —
    the lineage metrics a curation pass gates whole conversations on.
    One shuffle on conv_id with map-side partials; the oracle aggregates
    the same pyref golden the per-turn queries are checked against, so
    the rollup is certified end-to-end from raw turns."""
    ext = _extracted(spark, sf_dir)
    kept = F.sum("n_blocks_kept")
    dropped = F.sum("n_blocks_dropped")
    return (ext.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum("chars_in").cast("long").alias("sum_chars_in"),
        F.sum("chars_out").cast("long").alias("sum_chars_out"),
        F.when(kept + dropped == 0, F.lit(0))
        .otherwise(F.floor(F.lit(1000.0) * kept / (kept + dropped)))
        .cast("long").alias("keep_ratio_x1000"),
        F.sum(F.when(F.col("extracted_text") == "", 1).otherwise(0))
        .cast("long").alias("n_empty_turns")))


def doc_keyword_topk_x5(spark, sf_dir, k: int = 3):
    """Full X5 (ocr_app/utils/text_utils.py:117-155): normalized score with
    the all-zero fallback (top-k at score 0.1).

    The normalization max is a map-side-partial agg broadcast back onto the
    scan, and the top-k is orderBy().limit(k) (TakeOrderedAndProject) — no
    empty-partitionBy window shuffling the corpus to one task."""
    docs = _docs(spark, sf_dir)
    score = textfn.keyword_score_x5_col(F.col("text"), KEYWORD_QUERY_WORDS)
    scored = docs.select("doc_id", score.alias("raw"))
    mx = scored.agg(F.max("raw").alias("mx"))
    norm = F.when(F.col("mx") > 0, F.col("raw") / F.col("mx")).otherwise(F.lit(0.1))
    order = [F.desc("norm"), F.asc("doc_id")]
    top = (scored.crossJoin(F.broadcast(mx))
           .withColumn("norm", norm)
           .orderBy(*order)
           .limit(k))
    return (top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("doc_id", "rank",
                F.floor(F.col("norm") * 1e6 + F.lit(0.5)).cast("long").alias("score_x1e6")))


def doc_txt_envelope(spark, sf_dir):
    """X12 plain-text envelope (src/ocr_cli.py txt shape: '='*80 separators)."""
    sep = "=" * 80
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(sep + "\n"), F.lit("DOCUMENT "),
                 F.col("doc_id").cast("string"), F.lit("\n" + sep + "\n"),
                 F.col("text"), F.lit("\n")).alias("formatted"))


def qa_fallback_x15(spark, sf_dir):
    from .qa import qa_fallback_x15_df

    return qa_fallback_x15_df(_docs(spark, sf_dir))


def qa_answer_x14(spark, sf_dir):
    from .qa import ensure_qa_golden, qa_answer_x14_df

    ensure_qa_golden(sf_dir)  # pyref golden for the DuckDB oracle side
    return qa_answer_x14_df(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dedup / similarity (training-data ops)
# ---------------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


def dedup_ngram_jaccard(spark, sf_dir):
    # df_cap=100 bounds inverted-index fan-out (max shingle df at the
    # correctness tiers is 7, so the cap is non-binding there and the
    # uncapped DuckDB oracle stays exact)
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold_x1000=100,
                                     df_cap=100)


def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold_x1000=100)


def doc_simhash(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    hs = F.transform(
        F.array_distinct(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)),
        lambda w: F.substring(F.md5(w), 1, 8),
    )
    return docs.select("doc_id", hs.alias("hs")).select(
        "doc_id", F.expr(dedup.simhash_expr_sql("spark")).alias("simhash"))


def doc_simhash64(spark, sf_dir):
    """64-bit SimHash signature (Manku's production width — the config
    the 32-bit query's scale note prescribes for 10^9 docs): identical
    construction with 16-hex-char word hashes; the MSB occupies the
    signed bigint's sign bit."""
    docs = _docs(spark, sf_dir)
    hs = F.transform(
        F.array_distinct(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)),
        lambda w: F.substring(F.md5(w), 1, 16),
    )
    return docs.select("doc_id", hs.alias("hs")).select(
        "doc_id", F.expr(dedup.simhash_expr_sql("spark", bits=64))
        .alias("simhash"))


_EMB_DIM_CACHE: dict = {}


def _emb_dim(path: str) -> int:
    """Vector width from parquet metadata (driver-side, no Spark job).

    similarity.with_norm builds a STATIC codegen dot chain and hard-fails
    on width mismatch (by design — loud beats silent NULL cosines), so
    the public query entry points infer the width from the source file
    instead of assuming EMB_DIM (ADVICE r2)."""
    if path not in _EMB_DIM_CACHE:
        import glob

        import pyarrow.parquet as pq

        files = [path]
        if os.path.isdir(path):  # Spark writes a part-file directory
            files = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        for f in files:
            pf = pq.ParquetFile(f)
            if pf.metadata.num_rows == 0:
                continue  # empty part files carry no vector to measure
            batch = next(pf.iter_batches(batch_size=1))
            _EMB_DIM_CACHE[path] = len(batch.column("embedding")[0])
            break
        else:
            raise ValueError(f"no non-empty parquet part under {path}")
    return _EMB_DIM_CACHE[path]


def _emb(spark, sf_dir):
    path = os.path.join(sf_dir, "embeddings.parquet")
    df = _spread(spark, spark.read.parquet(path))
    return df, _emb_dim(path)


def ann_cosine_topk(spark, sf_dir):
    emb, dim = _emb(spark, sf_dir)
    return similarity.cosine_topk(emb, n_queries=20, k=3, dim=dim)


def emb_dup_pairs(spark, sf_dir):
    emb, dim = _emb(spark, sf_dir)
    return similarity.cosine_dup_pairs(emb, threshold=0.35, dim=dim)


def ann_ivf_recall(spark, sf_dir):
    """Recall@k of IVF-Flat vs the exact scan (Faiss eval convention);
    certifies the quality-measurement op itself — both searches AND the
    per-query hit count match the DuckDB twin exactly."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.ivf_recall(emb, n_queries=20, k=3, n_cells=16,
                                 n_probe=4, dim=dim)


def ann_lsh_topk(spark, sf_dir):
    emb, dim = _emb(spark, sf_dir)
    return similarity.lsh_bucket_topk(emb, n_queries=20, k=3, dim=dim)


def semdedup_prune(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): cluster-then-prune over
    the embedding space; see similarity.semdedup_prune for the scale notes."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.semdedup_prune(emb, n_cells=16, threshold=0.35, dim=dim)


def dedup_dup_spans(spark, sf_dir):
    """Per-doc exact-substring duplication signal (Lee et al. 2022 ExactSubstr
    at word-3-gram granularity); see dedup.dup_gram_stats for scale notes."""
    return dedup.dup_gram_stats(_docs(spark, sf_dir))


def dedup_c4_spans(spark, sf_dir):
    """C4 three-sentence-span dedup accounting (Raffel et al. 2020 §2.2):
    per doc, sliding 3-sentence spans keyed by normalized md5, corpus-wide
    counts, keep-first removal; see dedup.c4_span_stats for scale notes."""
    return dedup.c4_span_stats(_docs(spark, sf_dir))


def ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN: deterministic coarse cells + n_probe probing + exact
    in-cell cosine re-rank (Faiss IndexIVFFlat shape; see similarity.ivf_topk
    for the 10^9-vector scale notes)."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.ivf_topk(emb, n_queries=20, k=3, n_cells=16, n_probe=4,
                               dim=dim)


def ann_ivf_lloyd_topk(spark, sf_dir):
    """IVF-Flat ANN with ONE Lloyd refinement of the coarse quantizer
    (similarity.coarse_centroids, n_iters=1): integer-micro-unit cell
    means keep every refined centroid bit-identical to the DuckDB twin,
    so this query oracle-certifies the distributed k-means step itself —
    assignment argmin, per-cell exact mean, empty-cell carry-over — not
    just the probe/re-rank around it."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.ivf_topk(emb, n_queries=20, k=3, n_cells=16, n_probe=4,
                               dim=dim, n_iters=1)


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs — PRIMARY config, Manku's production width
    (r5 re-point, VERDICT r4 #4): 64-bit signature, 4 bands × 16 bits,
    Hamming ≤ 3 verify, lossless by pigeonhole. Each band key ranges
    over 2^16 values, so per-bucket candidate fan-out is ~256× smaller
    than the historical 8-bit bands — the knob the sf0.1→sf1 exhibit
    showed growing super-linearly for narrow bands (BENCH.md round-4
    table). The DuckDB oracle is the brute-force all-pairs Hamming scan
    over the 64-bit signatures, proving zero recall loss. The narrow
    32-bit form survives as dedup_simhash_pairs_narrow (its explicit
    ≤3-Hamming lossless proof at 8-bit bands)."""
    sigs = doc_simhash64(spark, sf_dir)
    return dedup.simhash_band_pairs(sigs, max_hamming=3, bits=64, n_bands=4)


def dedup_simhash_pairs_narrow(spark, sf_dir):
    """SimHash near-dup pairs at the NARROW historical width: 32-bit
    signature, 4 bands × 8 bits, Hamming ≤ 3 verify — lossless by
    pigeonhole, so the DuckDB oracle is the brute-force all-pairs
    Hamming scan. Kept as an explicit variant for the small-signature
    lossless proof; NOT the default (8-bit band keys have only 256
    values, so bucket fan-out grows with the birthday term — see
    BENCH.md sf1 exhibit). Production config is dedup_simhash_pairs."""
    sigs = doc_simhash(spark, sf_dir)
    return dedup.simhash_band_pairs(sigs, max_hamming=3, bits=32, n_bands=4)


def dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: connected components over the SimHash
    pair graph (dedup_simhash_pairs_narrow edges — the denser 32-bit
    graph exercises multi-node components, and the recursive-CTE oracle
    is pinned to that signature width), labelled with the component's
    min doc_id and its size — the pairs→clusters→canonical step every
    corpus-scale dedup actually needs (pair lists alone can't answer
    "which docs do I keep"). Distributed large-star/small-star
    contraction, O(log n) rounds whatever the component diameter (see
    dedup.connected_components for the per-round shuffle shape); the
    DuckDB oracle is a recursive-CTE transitive closure over the same
    brute-force pair set, so convergence is hash-verified, not
    assumed. Output: (doc_id, cluster_id, n_docs), one row per doc that
    has at least one near-duplicate."""
    from pyspark.sql import Window

    comp = dedup.connected_components(dedup_simhash_pairs_narrow(spark, sf_dir))
    return comp.select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long"),
        F.count("*").over(Window.partitionBy("cluster_id"))
        .cast("long").alias("n_docs"))


def doc_length_histogram(spark, sf_dir):
    """Corpus length-distribution rollup — the per-language token-count
    histogram a training-mix designer reads before choosing sampling
    rates. Bucket = bit-length of the whitespace token count
    (`length(bin(n))` — integer-exact log2 on BOTH engines, never a
    float log whose boundary could flip a bucket at exact powers of
    two). Scale: pure two-level aggregate — map-side partial counts,
    one shuffle on (lang, len_bucket); no UDF, no window."""
    docs = _docs(spark, sf_dir)
    return (docs.select("lang", textfn.token_count_cols(F.col("text"))[0])
            .select("lang",
                    F.when(F.col("n_ws_tokens") == 0, F.lit(0))
                    .otherwise(F.length(F.bin(F.col("n_ws_tokens"))))
                    .cast("long").alias("len_bucket"),
                    "n_ws_tokens")
            .groupBy("lang", "len_bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_ws_tokens").cast("long").alias("sum_ws_tokens")))


# Per-mille keep rates per documents.lang stratum (training-mix design);
# unlisted strata fall back to the default. The DuckDB oracle CASE is
# generated from these same constants so the dialects cannot drift.
SAMPLE_RATES_X1000 = {"en": 500, "zh": 400, "de": 300, "es": 300, "fr": 300}
SAMPLE_DEFAULT_X1000 = 100


def corpus_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling — per-language per-mille keep
    rates applied with a content-independent md5 coin (first 8 hex chars
    of md5(doc_id) as an integer, mod 1000), NOT rand(): re-running the
    job, changing partitioning, or adding executors can never change
    the sample. Scale: map-side filter only — zero shuffles, no RNG
    state, no driver involvement; the rate table is a literal CASE
    (broadcast-free). Output: the kept (doc_id, lang, strat_hash).

    Reads the table directly (no `_spread` small-SF repartition shim):
    a pure filter has no per-row CPU to spread, and the zero-Exchange
    plan is pinned by tests/test_pipeline_ops.py."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    h = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
         .cast("long") % 1000)
    rate = None
    for lang, r in SAMPLE_RATES_X1000.items():
        rate = (F.when if rate is None else rate.when)(
            F.col("lang") == lang, F.lit(r))
    rate = rate.otherwise(F.lit(SAMPLE_DEFAULT_X1000))
    return (docs.select(F.col("doc_id").cast("long"), "lang",
                        h.alias("strat_hash"))
            .filter(F.col("strat_hash") < rate))


C4_MIN_LINE_WORDS = 5  # C4 §2.2: retain lines with at least 5 words
C4_MIN_SENTENCES = 3   # discard pages with fewer than 3 sentences


def doc_c4_page_filter(spark, sf_dir):
    """C4 line-level cleaning heuristics (Raffel et al. 2020 §2.2): keep
    only lines that end in a terminal punctuation mark, contain ≥ 5
    words, and do not mention "javascript"; drop pages with fewer than
    3 sentences remaining, or containing "lorem ipsum" or a curly brace
    (the code-page signal). Complements `doc_quality_gopher` /
    `doc_repetition_signals` — this is the line-granular third of the
    classic web-corpus gate.

    Entirely JVM higher-order functions over the split lines array —
    map-only, no shuffle, codegen; the per-line predicate and the page
    gate are restated verbatim in the DuckDB twin. Output keeps the
    cleaned text so downstream stages can consume it directly.

    Scale: a pure projection — partition-count preserving, no exchange,
    safe at any corpus size; the only cost is the line regexes."""
    return _c4_page_filter_over(_docs(spark, sf_dir))


# Deterministic seeds for the driver-level C4 oracle: the synthetic
# documents corpus is single-line and punctuation-free, so the plain
# query's keep path is vacuous there (every rule still unit-tested on
# fixtures). The seeded variant derives a paged corpus both engines
# rebuild identically, exercising every rule with real keeps/drops.
C4_SEED_JS = "Enable javascript to view this page now."
C4_SEED_LOREM = "lorem ipsum dolor sit amet my friends."
C4_SEED_BRACE = "if (x) { return x; }"


def doc_c4_page_filter_seeded(spark, sf_dir):
    """C4 §2.2 line rules over a deterministically paged derivation of
    documents (8-word sentences terminated '.\\n', plus per-doc_id seeded
    javascript / lorem-ipsum / brace lines), so the driver oracle row
    certifies the positive AND negative path of every rule — the
    non-vacuity pattern of `doc_entities_seeded`."""
    return _c4_page_filter_over(_c4_seeded_docs(_docs(spark, sf_dir)))


def _c4_seeded_docs(docs):
    """The deterministically paged+seeded derivation of documents shared
    by the seeded C4 oracle and corpus_pipeline_v3."""
    paged = F.regexp_replace(
        F.col("text"), r"((?:\w+\s+){7}\w+)\s+", "$1.\n")

    def opt(mod: int, seed: str):
        return (F.when(F.col("doc_id") % mod == 0, F.lit("\n" + seed))
                .otherwise(F.lit("")))

    seeded = F.concat(paged, opt(5, C4_SEED_JS), opt(11, C4_SEED_LOREM),
                      opt(13, C4_SEED_BRACE))
    return docs.select("doc_id", seeded.alias("text"))


def _c4_page_filter_over(docs):
    lines = F.split(F.col("text"), "\n", -1)

    def line_ok(line):
        rl = F.rtrim(line)
        words = F.size(F.split(F.trim(line), r"\s+"))
        return (rl.rlike(r'[.!?"]$')
                & (words >= C4_MIN_LINE_WORDS)
                & ~F.contains(F.lower(line), F.lit("javascript")))

    kept = F.filter(lines, line_ok)
    clean = F.concat_ws("\n", kept)
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    keep_doc = ((n_sent >= C4_MIN_SENTENCES)
                & ~F.contains(F.lower(F.col("text")), F.lit("lorem ipsum"))
                & ~F.contains(F.col("text"), F.lit("{")))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sent.cast("long").alias("n_sentences"),
        keep_doc.alias("keep_doc"),
        clean.alias("clean_text"))


def conversation_turn_latency(spark, sf_dir):
    """Turn-taking analytics over the north-star transcript table's
    role/ts columns (the last unused input_hint dimensions): per
    conversation, role counts and assistant-after-user response latency
    (mean/max ms). ONE lag window partitioned on conv_id — the same
    per-conversation sequential order the reference's page loop implies
    — then a conv rollup; per-operand ms floors match the events_asof
    convention so timezone/epoch offsets cancel exactly. Oracle: the
    pure-Python sequential pass in golden.ensure_latency_golden."""
    from .golden import ensure_latency_golden
    from .transcripts import tier_for_sf_dir

    # The golden is the ORACLE, not an input: skip the driver-side
    # pure-Python pass at the bench tier (same guard as extract_angle_mode)
    # so first-run bench timings aren't skewed by an unused golden write.
    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_latency_golden(sf_dir)
    t = (spark.read.parquet(ensure_transcripts_for_sf_dir(sf_dir))
         .select("conv_id", "turn_idx", "role", "ts"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
    lat = F.when((F.lag("role").over(w) == "user")
                 & (F.col("role") == "assistant"),
                 ms - F.lag(ms).over(w)).cast("long")
    d = t.select("conv_id", "role", lat.alias("lat_ms"))
    return (d.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
        .cast("long").alias("n_user"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0))
        .cast("long").alias("n_assistant"),
        F.count("lat_ms").cast("long").alias("n_pairs"),
        F.coalesce(F.floor(F.sum("lat_ms") / F.count("lat_ms")), F.lit(0))
        .cast("long").alias("mean_latency_ms"),
        F.coalesce(F.max("lat_ms"), F.lit(0)).cast("long")
        .alias("max_latency_ms")))


def conversation_latency_quantiles(spark, sf_dir):
    """Corpus-level ordered statistics of assistant-after-user response
    latency — the SLO numbers (p50/p90/p99/max) an operator reads off the
    transcript table. ONE conv-partitioned lag window emits the pair
    latencies; the corpus rollup is a single global aggregate whose
    map-side partials carry only the exact-percentile buffer. Same
    cross-engine exact-interpolation contract as corpus_length_quantiles
    (Spark `percentile` ≡ DuckDB quantile_cont over bigint inputs,
    rounded once to the 1e3 grid); oracle input is the
    latency_pairs golden (pure-Python restatement of the lag pass).
    Output: (n_pairs, p50_x1000, p90_x1000, p99_x1000, max_ms)."""
    from .golden import ensure_latency_pairs_golden
    from .transcripts import tier_for_sf_dir

    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_latency_pairs_golden(sf_dir)
    t = (spark.read.parquet(ensure_transcripts_for_sf_dir(sf_dir))
         .select("conv_id", "turn_idx", "role", "ts"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1000)
    lat = F.when((F.lag("role").over(w) == "user")
                 & (F.col("role") == "assistant"),
                 ms - F.lag(ms).over(w)).cast("long")
    pairs = t.select(lat.alias("lat_ms")).filter(F.col("lat_ms").isNotNull())
    aggs = [F.count("*").cast("long").alias("n_pairs")]
    for p in (0.5, 0.9, 0.99):
        name = f"p{int(p * 100)}_x1000"
        aggs.append(F.floor(F.expr(f"percentile(lat_ms, {p})") * 1000.0
                            + 0.5).cast("long").alias(name))
    aggs.append(F.max("lat_ms").cast("long").alias("max_ms"))
    return pairs.agg(*aggs)


TPCH_SHIP_CUTOFF = "2000-01-01"
TPCH_SEGMENT = "BUILDING"


def _cents(expr):
    """Exact money: floor(x·100 + 0.5) per ROW, then integer sums —
    double SUM order across partitions can never flip a bit."""
    return F.floor(expr * 100.0 + 0.5).cast("long")


def tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over the provided lineitem table
    — the classic scan-heavy OLAP aggregate proving the engine serves
    the warehouse tables beside the corpus ops: shipdate predicate
    (pushed to the parquet scan), map-side partial aggregation, one
    4-key shuffle. Money is per-row floored cents so cross-engine sums
    are integer-exact (double SUM order is partition-dependent in any
    engine). Output per (l_returnflag, l_linestatus): counts and
    qty/base/discounted/charge sums."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li = li.filter(F.col("l_shipdate") <= F.lit(TPCH_SHIP_CUTOFF).cast(
        "timestamp_ntz"))
    disc = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    charge = disc * (1.0 + F.col("l_tax"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.sum(_cents(F.col("l_quantity"))).cast("long")
                 .alias("sum_qty_c"),
                 F.sum(_cents(F.col("l_extendedprice"))).cast("long")
                 .alias("sum_base_c"),
                 F.sum(_cents(disc)).cast("long").alias("sum_disc_c"),
                 F.sum(_cents(charge)).cast("long").alias("sum_charge_c")))


def tpch_top_revenue(spark, sf_dir, k: int = 10):
    """TPC-H Q3-shaped shipping-priority query: customer ⨝ orders ⨝
    lineitem with the segment/date predicates, revenue per order,
    top-k. Join strategy is the point at scale: customer grows linearly
    with scale factor, so the customer join carries NO broadcast hint —
    it shuffle-joins on custkey (AQE downgrades it to broadcast at
    runtime only when the filtered side really fits), orders⨝lineitem
    shuffles on the orderkey both sides already produce, and the top-k
    compiles to TakeOrderedAndProject. Revenue is per-row floored cents (integer
    sums). Output: (o_orderkey, o_orderdate, revenue_c)."""
    cust = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            .filter(F.col("c_mktsegment") == TPCH_SEGMENT)
            .select("c_custkey"))
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .filter(F.col("o_orderdate") < F.lit(TPCH_SHIP_CUTOFF).cast(
                  "timestamp_ntz"))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .filter(F.col("l_shipdate") > F.lit(TPCH_SHIP_CUTOFF).cast(
              "timestamp_ntz"))
          .select("l_orderkey",
                  _cents(F.col("l_extendedprice")
                         * (1.0 - F.col("l_discount"))).alias("rev_c")))
    order_key = [F.desc("revenue_c"), F.asc("o_orderkey")]
    # customer grows linearly with scale factor (150k rows/SF — multi-TB
    # at a 100 TB warehouse), so no broadcast hint: shuffle-join on
    # custkey and let AQE downgrade to broadcast when the filtered side
    # is actually under the threshold at runtime.
    top = (orders.join(cust, orders.o_custkey == cust.c_custkey)
           .join(li, orders.o_orderkey == li.l_orderkey)
           .groupBy("o_orderkey", "o_orderdate")
           .agg(F.sum("rev_c").cast("long").alias("revenue_c"))
           .orderBy(*order_key).limit(k))
    return top.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "revenue_c")


def tpch_promo_revenue(spark, sf_dir):
    """TPC-H Q14-shaped promo-revenue ratio: lineitem ⨝ part (the last
    provided warehouse table — every driver table now feeds at least
    one oracle-checked query), shipdate-windowed, share of revenue from
    PROMO parts. The part side is broadcast (thousands of rows vs the
    fact table); revenue is per-row floored cents, and the ratio
    divides two exact integers once (< 2^53, identically rounded in
    both engines). Output: (promo_rev_c, total_rev_c, promo_pct_x1e6).
    """
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .filter((F.col("l_shipdate") >= F.lit("1998-01-01").cast(
              "timestamp_ntz"))
                  & (F.col("l_shipdate") < F.lit("1999-01-01").cast(
                      "timestamp_ntz")))
          .select("l_partkey",
                  _cents(F.col("l_extendedprice")
                         * (1.0 - F.col("l_discount"))).alias("rev_c")))
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).select(
        "p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_c"))
              .otherwise(0)).cast("long").alias("promo_rev_c"),
        F.sum("rev_c").cast("long").alias("total_rev_c"))
    return agg.select(
        "promo_rev_c", "total_rev_c",
        F.floor(F.lit(1000000.0) * 100.0 * F.col("promo_rev_c")
                / F.col("total_rev_c") + 0.5).cast("long")
        .alias("promo_pct_x1e6"))


TPCH_REGION = "ASIA"


def tpch_local_supplier_revenue(spark, sf_dir):
    """TPC-H Q5-shaped local-supplier revenue: the six-way join
    (customer ⨝ orders ⨝ lineitem ⨝ supplier ⨝ nation ⨝ region) with
    the local-supplier constraint c_nationkey = s_nationkey, revenue
    per nation in one region. The join-planning exhibit: region/nation
    are FIXED-size dims (5 / 25 rows at every scale factor) and keep
    explicit broadcast hints; customer and supplier grow linearly with
    scale factor (150k / 10k rows per SF — multi-TB at a 100 TB
    warehouse), so they shuffle-join on their keys and AQE decides at
    runtime whether the region-pruned supplier side still fits under
    the broadcast threshold. Revenue is per-row floored cents.
    Output: (n_name, revenue_c)."""
    p = lambda t: os.path.join(sf_dir, f"{t}.parquet")  # noqa: E731
    region = (spark.read.parquet(p("region"))
              .filter(F.col("r_name") == TPCH_REGION))
    nation = (spark.read.parquet(p("nation"))
              .join(F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .select("n_nationkey", "n_name"))
    supplier = (spark.read.parquet(p("supplier"))
                .join(F.broadcast(nation),
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", "s_nationkey", "n_name"))
    customer = spark.read.parquet(p("customer")).select(
        "c_custkey", "c_nationkey")
    orders = spark.read.parquet(p("orders")).select(
        "o_orderkey", "o_custkey")
    li = (spark.read.parquet(p("lineitem"))
          .select("l_orderkey", "l_suppkey",
                  _cents(F.col("l_extendedprice")
                         * (1.0 - F.col("l_discount"))).alias("rev_c")))
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(customer, orders.o_custkey == customer.c_custkey)
              .join(supplier,
                    (li.l_suppkey == supplier.s_suppkey)
                    & (customer.c_nationkey == supplier.s_nationkey)))
    return (joined.groupBy("n_name")
            .agg(F.sum("rev_c").cast("long").alias("revenue_c")))


QUANTILE_PROBS = (0.25, 0.5, 0.75, 0.95)


def corpus_length_quantiles(spark, sf_dir):
    """Per-language ordered statistics of document length (word count):
    exact interpolated p25/p50/p75/p95 — the corpus-profiling numbers a
    length-filter or curriculum design reads first. Exact percentiles
    need a per-group sort, priced here deliberately: the group key is
    lang (tens of groups), Spark's `percentile` aggregates with
    map-side partial state, and at 100 TB the same query swaps to a
    mergeable quantile sketch at the cost of exactness — the exact
    version IS the oracle the sketch would be validated against.

    Determinism: Spark `percentile` and DuckDB `quantile_cont` share
    the linear-interpolation definition over exact bigint inputs —
    verified bit-identical — and results round once to the 1e6 grid.
    Output: (lang, n_docs, p25_x1e6, p50_x1e6, p75_x1e6, p95_x1e6)."""
    docs = _docs(spark, sf_dir)
    n_words = (F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
               .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+"))))
    base = docs.select("lang", n_words.cast("long").alias("nw"))
    aggs = [F.count("*").cast("long").alias("n_docs")]
    for p in QUANTILE_PROBS:
        name = f"p{int(p * 100)}_x1e6"
        aggs.append(F.floor(F.expr(f"percentile(nw, {p})") * 1000000.0
                            + 0.5).cast("long").alias(name))
    return base.groupBy("lang").agg(*aggs)


CMS_DEPTH = 4     # hash rows
CMS_WIDTH = 1024  # counters per row


def corpus_top_tokens_cms(spark, sf_dir, k: int = 100,
                          depth: int = CMS_DEPTH, width: int = CMS_WIDTH):
    """Count-Min Sketch frequency estimation (Cormode & Muthukrishnan
    2005) beside the exact heavy hitters: at 100 TB the exact
    `corpus_top_tokens` shuffles the full token vocabulary, while the
    CMS is a fixed depth×width counter grid built with map-side
    partials — this query runs both and reports, for each exact top-k
    token, its CMS estimate, certifying the one-sided error bound
    (est ≥ exact, overshoot ≤ εN with ε = e/width) end to end in
    integer arithmetic — no transcendental anywhere.

    Plan: the occurrence stream compacts to cached per-token counts
    (ONE token shuffle); the exact top-k and the sketch grid both
    derive from that vocab-sized frame, so grid hashing is per token
    type weighted by count — never per occurrence ((row, col) cell
    counts, ≤ 4096 keys, map-side partials); the tiny
    grid broadcast-joins back onto the top-k tokens; estimate = min
    over rows. Output: (token, n, cms_est)."""
    docs = _docs(spark, sf_dir)
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    # ONE token shuffle total: the occurrence stream compacts to
    # per-token counts first (cached), and BOTH the exact top-k and the
    # sketch grid derive from that vocab-sized frame — the grid hashes
    # each token TYPE once (weighted by its count), not every occurrence
    tfc = tracked_cache(
        docs.select(tok.alias("token"))
        .groupBy("token").agg(F.count("*").cast("long").alias("n")))
    exact = tfc.orderBy(F.desc("n"), F.asc("token")).limit(k)

    def col_of(token_col, r: int):
        return (F.conv(F.substring(
                    F.md5(F.concat(F.lit(f"{r}:"), token_col)), 1, 8), 16, 10)
                .cast("long") % width)

    cells = (tfc.select("n", F.posexplode(F.array(
                *[col_of(F.col("token"), r) for r in range(depth)]))
                .alias("row", "col"))
             .groupBy("row", "col")
             .agg(F.sum("n").cast("long").alias("cnt")))
    est = None
    probe = exact
    for r in range(depth):
        g = cells.filter(F.col("row") == r).select(
            F.col("col").alias(f"c{r}"), F.col("cnt").alias(f"n{r}"))
        probe = probe.join(
            F.broadcast(g),
            col_of(F.col("token"), r) == F.col(f"c{r}"), "left")
        e_r = F.coalesce(F.col(f"n{r}"), F.lit(0))
        est = e_r if est is None else F.least(est, e_r)
    return probe.select("token", "n", est.cast("long").alias("cms_est"))


SQ_LEVELS = 255  # int8 scalar-quantization levels


def emb_quantize_sq(spark, sf_dir):
    """Scalar quantization of the embedding store (the SQ8 of
    Faiss/Milvus): per-dimension global [min, max] affine mapping to
    0..255 codes — at 100 TB this is the 4× storage/bandwidth reduction
    applied before any ANN index is built. Reports per-vector code
    digest and reconstruction error so the oracle certifies BOTH the
    codes and the dequantization.

    Determinism: codes are floor(255·(x−min)/(max−min)+0.5) with the
    identical IEEE op order in both engines (no transcendental); the
    per-dimension squared reconstruction errors are rounded to the 1e9
    grid BEFORE the per-vector sum, so the sum is order-independent
    integer arithmetic; the code digest is md5 of the dimension-ordered
    comma-joined codes.

    Scale: one posexplode → 64-key dimension-stats aggregation
    (map-side partials) → stats broadcast back onto the element stream
    → per-vector rollup. No self-join; the stats table is KBs at any
    corpus size. Output: (vec_id, code_md5, err_x1e9)."""
    emb, _dim = _emb(spark, sf_dir)
    # the element stream feeds BOTH the stats aggregation and the
    # quantization pass — cache it so the posexplode runs once
    x = tracked_cache(
        emb.select(F.col("vec_id").cast("long"),
                   F.posexplode("embedding").alias("d", "xf"))
        .select("vec_id", "d", F.col("xf").cast("double").alias("x")))
    stats = x.groupBy("d").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    q = (x.join(F.broadcast(stats), "d")
         .withColumn("code", F.when(
             F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
             F.floor(F.lit(255.0) * (F.col("x") - F.col("mn"))
                     / (F.col("mx") - F.col("mn")) + 0.5)).cast("long"))
         .withColumn("xq", F.col("mn") + F.col("code")
                     * ((F.col("mx") - F.col("mn")) / 255.0))
         .withColumn("errt", F.floor(
             F.lit(1000000000.0) * (F.col("x") - F.col("xq"))
             * (F.col("x") - F.col("xq")) + 0.5).cast("long")))
    codes = F.concat_ws(",", F.transform(
        F.array_sort(F.collect_list(F.struct("d", "code"))),
        lambda s: s["code"].cast("string")))
    return (q.groupBy("vec_id")
            .agg(F.md5(codes).alias("code_md5"),
                 F.sum("errt").cast("long").alias("err_x1e9")))


CONV_DUP_MOD = 5  # seeded-duplicate coin for the conv-dedup oracle


def conversation_dedup_seeded(spark, sf_dir):
    """Exact dedup at CONVERSATION granularity over the north-star
    extraction output: the stitched per-conversation text
    (`conversation_stitch` — the same frame its golden oracle
    certifies) is content-hashed and duplicate groups resolve to the
    binary-least conv_id. The synthetic conversations are all distinct,
    so real duplicate groups are SEEDED deterministically (every conv
    whose md5-prefix coin lands < 1/5 is unioned again under
    `<conv_id>::dup` — both engines rebuild the identical duplicated
    corpus; the `doc_entities_seeded` non-vacuity pattern).

    Scale: one extra union branch over the stitched frame, one shuffle
    on the content hash (min(conv_id) + count per group), flag-back by
    a key join that reuses the hash partitioning. This is how a 10^12-
    turn corpus drops replayed/forked conversations before training.
    Output: (conv_id, group_sz, keep)."""
    # stitched feeds both union branches — cache it so the Arrow
    # extraction dispatch runs once
    stitched = tracked_cache(conversation_stitch(spark, sf_dir))
    coin = (F.conv(F.substring(F.md5(F.col("conv_id")), 1, 8), 16, 10)
            .cast("long") % CONV_DUP_MOD == 0)
    dups = (stitched.filter(coin)
            .select(F.concat(F.col("conv_id"), F.lit("::dup"))
                    .alias("conv_id"), "stitched"))
    allc = stitched.unionByName(dups).select(
        "conv_id", F.md5("stitched").alias("h"))
    groups = allc.groupBy("h").agg(
        F.count("*").cast("long").alias("group_sz"),
        F.min("conv_id").alias("keeper"))
    return (allc.join(groups, "h")
            .select("conv_id", "group_sz",
                    (F.col("conv_id") == F.col("keeper")).alias("keep")))


def doc_bigram_logprob(spark, sf_dir):
    """Bigram-LM perplexity signal — the fidelity upgrade of
    `doc_unigram_logprob` toward CCNet's KenLM (Wenzek et al. 2020):
    per doc, sum/mean of ln p(w2|w1) under the add-1-smoothed corpus
    bigram model, p = (c(w1 w2)+1)/(c(w1)+V). Repetitive/templated
    text scores high, character-soup and shuffled text score low —
    the head/middle/tail routing signal.

    Determinism: ln rounded once per bigram TYPE to the 1e6 grid,
    integer per-doc sums, exact-integer floored means (the repo's ln
    convention). Scale note: unlike the unigram table, the bigram-type
    table is NOT broadcastable at corpus scale — the logp lookup is a
    key equi-join on the bigram (sort-merge/shuffled-hash; AQE picks),
    the one quality signal in the suite that legitimately shuffles on
    a high-cardinality derived key. Everything else is partial-agg
    shuffles. Output: (doc_id, n_bigrams, sum_logp_x1e6,
    mean_logp_x1e6)."""
    docs = _docs(spark, sf_dir)
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
    pairs = F.when(
        F.size(words) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(words) - 2),
                    lambda i: F.struct(
                        F.element_at(words, i + 1).alias("w1"),
                        F.concat_ws(" ", F.slice(words, i + 1, 2))
                        .alias("bg"))),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
    # tfbg feeds BOTH the model-count branch (cbg) and the scoring
    # rollup — cache it so the explode+agg subtree runs once (the
    # minhash_lsh_pairs lesson, VERDICT r2 #3; a warehouse deployment
    # materializes the bigram counts to a table instead).
    tfbg = (docs.select(F.col("doc_id").cast("long"),
                        F.explode(pairs).alias("p"))
            .select("doc_id", F.col("p.w1").alias("w1"),
                    F.col("p.bg").alias("bg"))
            .groupBy("doc_id", "w1", "bg")
            .agg(F.count("*").cast("long").alias("tf")))
    tfbg = tracked_cache(tfbg)
    cbg = tfbg.groupBy("w1", "bg").agg(F.sum("tf").cast("long").alias("c_bg"))
    cw = (docs.select(F.explode(words).alias("w1"))
          .groupBy("w1").agg(F.count("*").cast("long").alias("c_w1")))
    vstat = cw.agg(F.count("*").cast("long").alias("v"))
    lp = (cbg.join(cw, "w1")
          .crossJoin(F.broadcast(vstat))
          .select("bg", F.floor(F.lit(1000000.0) * F.log(
              (F.col("c_bg") + 1.0) / (F.col("c_w1") + F.col("v"))) + 0.5)
              .cast("long").alias("logp_x1e6")))
    rolled = (tfbg.join(lp, "bg")
              .groupBy("doc_id")
              .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                   F.sum(F.col("tf") * F.col("logp_x1e6")).cast("long")
                   .alias("sum_logp_x1e6")))
    base = docs.select(F.col("doc_id").cast("long"))
    out = base.join(rolled, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
        .alias("n_bigrams"),
        F.coalesce(F.col("sum_logp_x1e6"), F.lit(0)).cast("long")
        .alias("sum_logp_x1e6"),
        F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0))
        .otherwise(F.floor(F.col("sum_logp_x1e6") / F.col("n_bigrams")))
        .cast("long").alias("mean_logp_x1e6"))


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def doc_bm25_topk(spark, sf_dir, k: int = BM25_TOP_K):
    """BM25 ranked retrieval (Robertson/Lucene idf variant) for the X5
    query words — the corpus-statistics upgrade of the reference's flat
    keyword counts: tf saturation (k1=1.2), length normalization
    (b=0.75 against the corpus average length), and rarity weighting
    ln((N-df+0.5)/(df+0.5)+1).

    Determinism: idf is rounded once per TERM to the 1e6 grid (the DSIR
    ln convention); every other factor is division/multiplication in an
    identical evaluation order in both engines (correctly-rounded IEEE,
    no transcendental), each per-doc-term product rounded once, then
    integer sums. Docs containing no query term score nothing and are
    absent, matching the twin.

    Scale: the token stream is FILTERED to the query vocabulary before
    any aggregation (predicate on the exploded stream — the shuffled
    volume is |query terms| × docs, not the corpus token count); df
    reuses the unique (doc, term) rows; the 5-row idf/stats table
    broadcasts; top-k is TakeOrderedAndProject.
    Output: (rank, doc_id, bm25_x1e6)."""
    docs = _docs(spark, sf_dir)
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
    base = (docs.select(F.col("doc_id").cast("long"),
                        F.size(words).cast("long").alias("dl"),
                        F.explode(words).alias("token"))
            .filter(F.col("token").isin(KEYWORD_QUERY_WORDS)))
    # tf feeds BOTH the df branch and the scoring join — cache the
    # (tiny, query-vocab-filtered) frame so the explode runs once
    tf = tracked_cache(
        base.groupBy("doc_id", "dl", "token")
        .agg(F.count("*").cast("long").alias("tf")))
    dfq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    stats = docs.agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum(F.size(words)).cast("long").alias("sum_dl"))
    idf = (dfq.crossJoin(F.broadcast(stats))
           .select("token",
                   F.floor(F.lit(1000000.0) * F.log(
                       (F.col("n_docs") - F.col("df") + 0.5)
                       / (F.col("df") + 0.5) + 1.0) + 0.5)
                   .cast("long").alias("idf_x1e6"),
                   (F.col("sum_dl") / F.col("n_docs")).alias("avgdl")))
    term = F.floor(
        F.col("idf_x1e6") * (F.col("tf") * (BM25_K1 + 1.0))
        / (F.col("tf") + BM25_K1
           * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        + 0.5).cast("long")
    scored = (tf.join(F.broadcast(idf), "token")
              .select("doc_id", term.alias("term_x1e6"))
              .groupBy("doc_id")
              .agg(F.sum("term_x1e6").cast("long").alias("bm25_x1e6")))
    order = [F.desc("bm25_x1e6"), F.asc("doc_id")]
    top = scored.orderBy(*order).limit(k)
    return (top.withColumn("rank",
                           F.row_number().over(Window.orderBy(*order))
                           .cast("long"))
            .select("rank", "doc_id", "bm25_x1e6"))


def doc_unigram_logprob(spark, sf_dir):
    """CCNet-style perplexity filtering signal (Wenzek et al. 2020
    "CCNet: Extracting High Quality Monolingual Datasets"), with the
    corpus unigram LM standing in for KenLM (the container has no LM;
    the filter SHAPE — score every doc by mean token log-probability,
    route head/middle/tail — is what matters and is identical): per
    doc, the sum and mean of ln p(token) where p = corpus count /
    total. Each token's ln p is rounded once to the 1e6 grid (vocab-
    bounded transcendental, the DSIR convention), so per-doc sums are
    integer-exact; the mean divides two exact integers (< 2^53) and
    floors — bit-identical in both engines.

    Scale: token explode → (doc, token) tf agg [shuffle 1, partials] →
    corpus count agg [shuffle 2, vocab keys] → broadcast logp table
    back onto the tf rows → doc rollup. Same no-self-join shape as
    `doc_tfidf_topk`. Output: (doc_id, n_tokens, sum_logp_x1e6,
    mean_logp_x1e6) — more negative = rarer vocabulary (CCNet tail)."""
    docs = _docs(spark, sf_dir)
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    # tf feeds BOTH the model-count branch and the rollup — cache the
    # compacted frame so the token explode runs once
    tf = tracked_cache(
        docs.select(F.col("doc_id").cast("long"), tok.alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf")))
    counts = tf.groupBy("token").agg(F.sum("tf").cast("long").alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("long").alias("n_total"))
    logp = (counts.crossJoin(F.broadcast(total))
            .select("token",
                    F.floor(F.lit(1000000.0)
                            * F.log(F.col("cnt") / F.col("n_total")) + 0.5)
                    .cast("long").alias("logp_x1e6")))
    rolled = (tf.join(F.broadcast(logp), "token")
              .groupBy("doc_id")
              .agg(F.sum("tf").cast("long").alias("n_tokens"),
                   F.sum(F.col("tf") * F.col("logp_x1e6")).cast("long")
                   .alias("sum_logp_x1e6")))
    base = docs.select(F.col("doc_id").cast("long"))
    out = base.join(rolled, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
        .alias("n_tokens"),
        F.coalesce(F.col("sum_logp_x1e6"), F.lit(0)).cast("long")
        .alias("sum_logp_x1e6"),
        F.when(F.coalesce(F.col("n_tokens"), F.lit(0)) == 0, F.lit(0))
        .otherwise(F.floor(F.col("sum_logp_x1e6") / F.col("n_tokens")))
        .cast("long").alias("mean_logp_x1e6"))


TFIDF_TOP_K = 5


def doc_tfidf_topk(spark, sf_dir, k: int = TFIDF_TOP_K):
    """Corpus TF-IDF keyword extraction: top-k terms per document by
    tf·idf — the corpus-statistics counterpart of the reference's
    fixed-query keyword scores (X5/X6 rank documents against given
    words; this ranks each document's own vocabulary against the
    corpus). idf = ln(N/df) over distinct-doc frequency, rounded once
    per TOKEN to the 1e6 grid (the DSIR ln convention), so per-doc
    scores tf·idf_x1e6 are integer-exact products; ties break on token
    ascending.

    Scale: token explode → (doc, token) tf aggregation [shuffle 1,
    map-side partials] → token df aggregation [shuffle 2, partials] →
    idf table joined back (broadcast here — the scored vocabulary of a
    real corpus can instead flow through a shuffled join; either way no
    self-join) → per-doc top-k window on the doc-partitioned tf rows.

    Output: (doc_id, rank, token, tf, tfidf_x1e6)."""
    docs = _docs(spark, sf_dir)
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    # tf feeds BOTH the df branch and the scoring join — cache the
    # compacted frame so the token explode runs once (at warehouse
    # scale, materialize tf to a table instead)
    tf = tracked_cache(
        docs.select(F.col("doc_id").cast("long"), tok.alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf")))
    n_docs = docs.agg(F.count("*").cast("long").alias("n"))
    # tf rows are unique per (doc, token), so df = count(*) — no
    # distinct aggregation needed
    idf = (tf.groupBy("token")
           .agg(F.count("*").cast("long").alias("df"))
           .crossJoin(F.broadcast(n_docs))
           .select("token",
                   F.floor(F.lit(1000000.0)
                           * F.log(F.col("n") / F.col("df")) + 0.5)
                   .cast("long").alias("idf_x1e6")))
    scored = (tf.join(F.broadcast(idf), "token")
              .select("doc_id", "token", "tf",
                      (F.col("tf") * F.col("idf_x1e6")).cast("long")
                      .alias("tfidf_x1e6")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_x1e6"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "token", "tf", "tfidf_x1e6"))


BLOOM_BITS = 65536  # m = 2^16 positions
BLOOM_K = 3         # hash functions


def corpus_decontaminate_bloom(spark, sf_dir, m: int = BLOOM_BITS,
                               k: int = BLOOM_K):
    """Bloom-filter test-set decontamination — the scale path for
    `corpus_decontaminate` when the eval-gram index outgrows an exact
    broadcast (Bloom 1970): benchmark grams are k-hashed into an m-bit
    position set; a corpus gram is flagged iff ALL k positions are
    occupied (supersets the exact hits by the documented FP rate
    (1-e^(-kn/m))^k — per-doc counts here are an upper bound used for
    routing to the exact check, never for silent dropping).

    The filter is represented as the DISTINCT occupied-position table
    (≤ min(m, k·n) rows — semantically THE bit array; a production
    100 TB job packs it into an m-bit broadcast bitset, identical
    semantics and FP behavior). Plan: build side is a tiny distinct
    agg; probe side explodes each corpus gram into its k positions,
    broadcast-joins the position set, and requires all k hits per gram
    (min over the hit flag) — map-side throughout, then one doc_id
    rollup. Deterministic md5 position hashes, restated in the twin.

    Output: (doc_id, n_grams, n_bloom_hit_grams) for corpus docs."""
    docs = _docs(spark, sf_dir)
    grams = dedup.shingle_array()

    def pos(gram_col, i: int):
        return (F.conv(F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), gram_col)), 1, 8), 16, 10)
                .cast("long") % m)

    bench = (docs.filter(F.col("doc_id") % 47 == 0)
             .select(F.explode(grams).alias("gram")))
    bpos = (bench.select(F.explode(F.array(
                *[pos(F.col("gram"), i) for i in range(k)])).alias("pos"))
            .distinct().withColumn("occupied", F.lit(1)))
    corp = (docs.filter(F.col("doc_id") % 47 != 0)
            .select(F.col("doc_id").cast("long"), F.explode(grams).alias("gram")))
    probes = corp.select(
        "doc_id", "gram",
        F.explode(F.array(*[pos(F.col("gram"), i) for i in range(k)]))
        .alias("pos"))
    per_gram = (probes.join(F.broadcast(bpos), "pos", "left")
                .groupBy("doc_id", "gram")
                .agg(F.min(F.coalesce(F.col("occupied"), F.lit(0)))
                     .alias("all_hit")))
    return (per_gram.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum("all_hit").cast("long").alias("n_bloom_hit_grams")))


HLL_BUCKETS = 256  # 2^8 registers (b = 8)


def corpus_vocab_hll(spark, sf_dir, m: int = HLL_BUCKETS):
    """Deterministic HyperLogLog vocabulary-cardinality sketch (Flajolet
    et al. 2007), beside the exact count: at 100 TB the exact distinct
    needs a full token shuffle (`corpus_top_tokens`'s cost), while the
    sketch is one map-side 256-register aggregate — this query runs both
    so the driver oracle certifies the estimator AND its input registers.

    Determinism contract: the hash is md5 (register = first 8 bits, rho
    = leading-zero rank of the next 24 bits); the register sum is a sum
    of powers of two ≥ 2^-25, exact in IEEE double in ANY order, so no
    float-fold ambiguity; alpha_m is the standard 0.7213/(1+1.079/m)
    computed with the identical literal expression in both engines; the
    only transcendental is the small-range linear-counting ln, rounded
    once to the 1e6 grid (same accepted ulp-boundary risk as
    `corpus_dsir_weights`, ~1e-10).

    Output (single row): (m, n_zero_registers, hll_raw_x1e6,
    hll_est_x1e6, exact_distinct)."""
    docs = _docs(spark, sf_dir)
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    # registers depend only on DISTINCT tokens — compact the occurrence
    # stream to the vocab first (one shuffle, cached) so both the
    # register build and the exact count hash/count per token type
    vocab = tracked_cache(docs.select(tok.alias("token")).distinct())
    h = vocab.select("token", F.md5("token").alias("h"))
    v24 = F.conv(F.substring("h", 3, 6), 16, 10).cast("long")
    rho = (F.when(v24 == 0, F.lit(25))
           .otherwise(25 - F.length(F.bin(v24)))).cast("int")
    regs = (h.select(
                F.conv(F.substring("h", 1, 2), 16, 10).cast("long")
                .alias("reg"), rho.alias("rho"))
            .groupBy("reg").agg(F.max("rho").alias("r_max")))
    allregs = (spark.range(m).select(F.col("id").alias("reg"))
               .join(regs, "reg", "left"))
    contrib = F.when(F.col("r_max").isNull(), F.lit(1.0)).otherwise(
        F.pow(F.lit(2.0), -F.col("r_max")))
    zeros = F.sum(F.when(F.col("r_max").isNull(), 1).otherwise(0))
    agg = allregs.agg(F.sum(contrib).alias("s"),
                      zeros.cast("long").alias("n_zero"))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = F.lit(alpha) * m * m / F.col("s")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero"))
    est = F.when((raw <= 2.5 * m) & (F.col("n_zero") > 0), linear) \
           .otherwise(raw)
    exact = vocab.agg(F.count("*").cast("long").alias("exact_distinct"))
    return (agg.crossJoin(exact)
            .select(F.lit(m).cast("long").alias("m"),
                    F.col("n_zero").alias("n_zero_registers"),
                    F.floor(raw * 1e6 + F.lit(0.5)).cast("long")
                    .alias("hll_raw_x1e6"),
                    F.floor(est * 1e6 + F.lit(0.5)).cast("long")
                    .alias("hll_est_x1e6"),
                    "exact_distinct"))


PIPELINE_V3_TOP_N = 100


def corpus_pipeline_v3(spark, sf_dir, top_n: int = PIPELINE_V3_TOP_N):
    """The modern web-corpus curation composition (RefinedWeb-shaped),
    chained from this round's oracle-checked stages in ONE DAG:

      1. C4 §2.2 line cleaning — over the deterministically paged
         corpus (`_c4_seeded_docs`, the same derivation the seeded C4
         oracle certifies), keeping pages that pass the page gates and
         emitting their CLEANED text downstream;
      2. Gopher quality gate — `_gopher_metrics` keep decision on the
         cleaned text (not the raw page);
      3. exact dedup — smallest doc_id per md5(cleaned text), one
         (hash) shuffle;
      4. DSIR selection — importance weights of the survivors against
         the raw target slice (doc_id % 31 == 0, scored-out as in
         `corpus_dsir_weights`), then the global top-`top_n` by weight
         via TakeOrderedAndProject.

    Scale: stages 1–2 are map-only projections; stage 3 shuffles once
    on the content hash; stage 4 is the gram explode → 256-key agg →
    broadcast parameter table → doc rollup → per-partition top-k merge.
    No self-joins, no cartesians, no windows over unaggregated streams.
    Output: (rank, doc_id, n_grams, dsir_logw_x1e6)."""
    docs = _docs(spark, sf_dir)
    cleaned = (_c4_page_filter_over(_c4_seeded_docs(docs))
               .filter(F.col("keep_doc"))
               .select("doc_id", F.col("clean_text").alias("text")))
    m = _gopher_metrics(F.col("text"))
    gated = cleaned.filter(m["keep"]).select("doc_id", "text")
    dw = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    # surv feeds BOTH the DSIR gram build and the weights base join;
    # cache it so the C4+Gopher+dedup chain runs once
    surv = tracked_cache(
        gated.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1).drop("rn")
        .filter(F.col("doc_id") % DSIR_TARGET_MOD != 0))
    target = (docs.filter(F.col("doc_id") % DSIR_TARGET_MOD == 0)
              .select("doc_id", "text"))
    g = (_dsir_gram_buckets(target, F.lit(True))
         .unionByName(_dsir_gram_buckets(surv, F.lit(False))))
    weights = (surv.select(F.col("doc_id").cast("long"))
               .join(_dsir_rollup(g), "doc_id", "left")
               .select("doc_id",
                       F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
                       .alias("n_grams"),
                       F.coalesce(F.col("dsir_logw_x1e6"), F.lit(0))
                       .cast("long").alias("dsir_logw_x1e6")))
    order = [F.desc("dsir_logw_x1e6"), F.asc("doc_id")]
    top = weights.orderBy(*order).limit(top_n)
    return (top.withColumn(
                "rank", F.row_number().over(Window.orderBy(*order))
                .cast("long"))
            .select("rank", "doc_id", "n_grams", "dsir_logw_x1e6"))


DSIR_BUCKETS = 256     # hashed n-gram feature buckets
DSIR_TARGET_MOD = 31   # deterministic target-domain slice (doc_id % 31 == 0)


def corpus_dsir_weights(spark, sf_dir, n_buckets: int = DSIR_BUCKETS):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    hashed unigram+bigram features, bag-of-buckets probability estimates
    for a target-domain slice vs the raw pool (add-1 smoothing), and a
    per-raw-doc log-likelihood-ratio importance weight — the score DSIR
    resamples against. The target here is the deterministic
    `doc_id % 31 == 0` slice (the benchmark-slice convention of
    `corpus_decontaminate`); production swaps in a real target corpus
    through the same two-sided count.

    Determinism contract: the bucket hash is the md5-prefix integer
    (same idiom as `corpus_sample_stratified`); each per-bucket
    log-ratio is computed as ln(((cnt_t+1)/(N_t+B)) · ((N_r+B)/(cnt_r+1)))
    — division-first, so every intermediate is a correctly-rounded
    double at ANY corpus size (no >2^53 integer products) — rounded
    once per BUCKET to floor(1e6·x + 0.5), then summed per doc in exact
    integer arithmetic. The only cross-engine risk is a libm ln ulp
    landing exactly on a 1e-6 grid boundary for one of the B buckets
    (~1e-10·B); per-doc sums are integer-exact.

    Scale: one gram explode → bucket-count aggregation whose key space
    IS the feature table (B keys, map-side partials absorb the volume)
    → tiny parameter table (B rows) broadcast back onto the gram
    stream → one doc_id rollup. The DSIR "fit" phase never leaves the
    cluster and the parameter table is KBs at any corpus size."""
    docs = _docs(spark, sf_dir)
    g = _dsir_gram_buckets(
        docs, F.col("doc_id") % DSIR_TARGET_MOD == 0, n_buckets)
    rolled = _dsir_rollup(g, n_buckets)
    base = docs.filter(F.col("doc_id") % DSIR_TARGET_MOD != 0).select(
        F.col("doc_id").cast("long"))
    return (base.join(rolled, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
                    .alias("n_grams"),
                    F.coalesce(F.col("dsir_logw_x1e6"), F.lit(0)).cast("long")
                    .alias("dsir_logw_x1e6")))


def _dsir_gram_buckets(docs, is_t_col, n_buckets: int = DSIR_BUCKETS):
    """(doc_id, is_t, gram, bucket) stream: hashed unigrams+bigrams."""
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(words) - 2),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    return (docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                is_t_col.alias("is_t"),
                F.explode(F.concat(words, bigrams)).alias("gram"))
            .withColumn(
                "bucket",
                F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
                .cast("long") % n_buckets))


def _dsir_rollup(g, n_buckets: int = DSIR_BUCKETS):
    """Bucket counts → broadcast log-ratio table → per-raw-doc sums.

    The raw gram stream `g` feeds BOTH the model-count branch and the
    scoring rollup; evaluating it twice doubles the dominant
    tokenize+hash cost (the bigram-LM lesson). Instead the stream is
    first compacted to per-(doc, bucket) counts — bounded by
    docs × (B+1) rows — and THAT frame is cached and shared; every
    downstream branch derives from it without touching the raw stream
    again."""
    gtf = tracked_cache(
        g.groupBy("doc_id", "is_t", "bucket")
        .agg(F.count("*").cast("long").alias("cnt")))
    c = gtf.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(0))
        .alias("cnt_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(F.col("cnt")))
        .alias("cnt_r"))
    totals = c.agg(F.sum("cnt_t").alias("n_t"), F.sum("cnt_r").alias("n_r"))
    lr = (c.crossJoin(F.broadcast(totals))
          .select("bucket",
                  F.floor(F.lit(1000000.0) * F.log(
                      ((F.col("cnt_t") + 1.0) / (F.col("n_t") + n_buckets))
                      * ((F.col("n_r") + n_buckets) / (F.col("cnt_r") + 1.0)))
                      + 0.5).cast("long").alias("lr_x1e6")))
    return (gtf.filter(~F.col("is_t"))
            .join(F.broadcast(lr), "bucket")
            .groupBy("doc_id")
            .agg(F.sum("cnt").cast("long").alias("n_grams"),
                 F.sum(F.col("cnt") * F.col("lr_x1e6")).cast("long")
                 .alias("dsir_logw_x1e6")))


MIX_BUDGET_TOKENS = 800  # per-source token budget (uniform default)
MIX_SHARDS = 8           # prefix-sum shards per source


def corpus_mix_budget(spark, sf_dir, budget: int = MIX_BUDGET_TOKENS,
                      n_shards: int = MIX_SHARDS):
    """Token-budget source mixing — the sampling-weights step of
    pretraining data prep: each source contributes documents, in a
    deterministic content-independent shuffle order, until its token
    budget is reached (prefix rule: the doc that would cross the budget
    and everything after it are dropped).

    Scale: a naive `sum() OVER (PARTITION BY source ORDER BY ...)` makes
    every source a single sequential task — with tens of sources over
    10^9 docs that is the whole corpus through a handful of cores. This
    is instead a TWO-PHASE distributed prefix sum: the source order is
    defined as (shard, md5(doc_id), doc_id) with shard = doc_id % n_shards,
    so the running total decomposes into (a) a shard-local cumsum — the
    Window partitions by (source, shard), n_shards-way parallel per
    source — plus (b) a per-(source, shard) offset computed from the
    tiny totals table (n_sources × n_shards rows) and broadcast back.
    Raise n_shards with the cluster; the order stays deterministic at
    any width because it is data-defined, not partitioning-defined.

    Output: kept rows (doc_id, source, n_tokens, cum_tokens).
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    base = docs.select(
        F.col("doc_id").cast("long"), "source",
        n_tokens.cast("long").alias("n_tokens"),
        (F.col("doc_id") % n_shards).cast("int").alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    w_local = (Window.partitionBy("source", "shard")
               .orderBy("h", "doc_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    local = base.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    w_off = (Window.partitionBy("source").orderBy("shard")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (base.groupBy("source", "shard")
               .agg(F.sum("n_tokens").alias("tot"))
               .withColumn("off", F.coalesce(F.sum("tot").over(w_off), F.lit(0)))
               .select("source", "shard", "off"))
    return (local.join(F.broadcast(offsets), ["source", "shard"])
            .withColumn("cum_tokens",
                        (F.col("off") + F.col("local_cum")).cast("long"))
            .filter(F.col("cum_tokens") <= budget)
            .select("doc_id", "source", "n_tokens", "cum_tokens"))


# Gopher/C4-style corpus quality gate thresholds (word count, mean word
# length, duplicate-line fraction, stopword presence). Fractions are
# floor(1000·x) integers so both engines hash bit-identically.
GOPHER_MIN_WORDS = 50
GOPHER_MWL_X1000 = (3000, 10000)
GOPHER_MAX_DUP_LINE_X1000 = 300
GOPHER_MIN_STOPWORDS = 2
GOPHER_STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "that", "it"]


def _gopher_metrics(text):
    """Gopher/C4 metric expressions over a text Column → dict of Columns
    (shared by the standalone gate query and the composed pipeline)."""
    n_words = (F.when(F.length(F.trim(text)) == 0, F.lit(0))
               .otherwise(F.size(F.split(F.trim(text), r"\s+"))).cast("long"))
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines).cast("long")
    n_dup_lines = (n_lines - F.size(F.array_distinct(lines))).cast("long")
    wd = F.array_distinct(F.regexp_extract_all(F.lower(text), F.lit(r"\w+"), 0))
    n_stop = F.size(F.filter(
        F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        lambda w: F.array_contains(wd, w))).cast("long")
    mwl = (F.when(n_words == 0, F.lit(0))
           .otherwise(F.floor(F.lit(1000.0) * alpha / n_words)).cast("long"))
    dup_frac = F.floor(F.lit(1000.0) * n_dup_lines / n_lines).cast("long")
    keep = ((n_words >= GOPHER_MIN_WORDS)
            & mwl.between(*GOPHER_MWL_X1000)
            & (dup_frac <= GOPHER_MAX_DUP_LINE_X1000)
            & (n_stop >= GOPHER_MIN_STOPWORDS))
    return {"n_words": n_words, "mean_word_len_x1000": mwl,
            "dup_line_frac_x1000": dup_frac, "n_stopwords": n_stop,
            "keep": keep}


def doc_quality_gopher(spark, sf_dir):
    """Gopher/C4-style repetition + quality metrics and keep decision —
    the corpus-scale quality gate the reference's A6/A7 scores don't
    cover: word-count bounds, mean word length, duplicate-line fraction
    (repetition), and stopword presence. All JVM expressions (map-only,
    codegen); the DuckDB twin restates every metric, so the keep
    decision itself is certified value-exact."""
    docs = _docs(spark, sf_dir)
    m = _gopher_metrics(F.col("text"))
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in m.items()])


# Gopher §A1.1 repetition thresholds (Rae et al. 2021, Table A1), as
# floor(1000·x) integers: top-{2,3,4}-gram char fraction and
# duplicated-{5..10}-gram char fraction.
GOPHER_TOP_NGRAM_MAX_X1000 = {2: 200, 3: 180, 4: 160}
GOPHER_DUP_NGRAM_MAX_X1000 = {5: 150, 6: 140, 7: 130, 8: 120, 9: 110, 10: 100}


def doc_repetition_signals(spark, sf_dir):
    """Gopher repetition signals (Rae et al. 2021 §A1.1): per document,
    the fraction of characters covered by the most frequent word
    {2,3,4}-gram and by duplicated (count ≥ 2) word {5..10}-grams, plus
    the published keep decision over all nine thresholds. Completes the
    repetition family started by `doc_quality_gopher` (duplicate-line
    fraction).

    Definitions (deterministic in both engines): words are the `\\w+`
    tokens of lower(text); a gram's characters are its single-space
    join length; fractions are over the normalized text length
    (words joined by single spaces), floor(1000·x); duplicated-gram
    character mass is summed per distinct gram (count·len), the
    standard non-overlap-corrected variant. Top-gram ties break on the
    binary-greatest gram so `max(struct(cnt, gram))` needs no window.

    Scale shape: ONE explode emits all nine gram widths tagged with n
    (~9× the token stream), partial aggregation combines counts
    map-side before the single (doc_id, n, gram) shuffle, then two
    doc-keyed aggregations — no self-join, no window over raw grams,
    skew bounded by document length. At 100 TB this is the same plan
    MassiveText ran; the gram shuffle is the irreducible cost."""
    docs = _docs(spark, sf_dir)
    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)
    base = docs.select(
        "doc_id", words.alias("words"),
        F.length(F.concat_ws(" ", words)).cast("long").alias("norm_len"))

    def grams_of(n: int):
        return F.when(
            F.size("words") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("words") - n),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(
                        " ", F.slice("words", i + 1, n)).alias("gram"))),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    exploded = (base
                .filter(F.col("norm_len") > 0)
                .select("doc_id", "norm_len",
                        F.explode(F.flatten(F.array(
                            *[grams_of(n) for n in range(2, 11)])))
                        .alias("g"))
                .select("doc_id", "norm_len",
                        F.col("g.n").alias("n"), F.col("g.gram").alias("gram")))
    counts = (exploded.groupBy("doc_id", "norm_len", "n", "gram")
              .agg(F.count("*").alias("cnt")))
    per_n = (counts.groupBy("doc_id", "norm_len", "n").agg(
        F.max(F.struct("cnt", "gram")).alias("top"),
        F.sum(F.when(F.col("cnt") >= 2,
                     F.col("cnt") * F.length("gram"))
              .otherwise(F.lit(0))).cast("long").alias("dup_chars")))
    per_n = per_n.withColumn(
        "top_chars", (F.col("top.cnt") * F.length("top.gram")).cast("long"))

    def frac(chars_col):
        return F.floor(F.lit(1000.0) * chars_col / F.col("norm_len")).cast("long")

    agg_cols, out_names = [], []
    for n in (2, 3, 4):
        name = f"top{n}_frac_x1000"
        agg_cols.append(F.max(F.when(F.col("n") == n,
                                     frac(F.col("top_chars")))).alias(name))
        out_names.append(name)
    for n in range(5, 11):
        name = f"dup{n}_frac_x1000"
        agg_cols.append(F.max(F.when(F.col("n") == n,
                                     frac(F.col("dup_chars")))).alias(name))
        out_names.append(name)
    pivot = per_n.groupBy("doc_id").agg(*agg_cols)

    out = docs.select("doc_id").join(pivot, "doc_id", "left")
    filled = [F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
              for c in out_names]
    out = out.select("doc_id", *filled)
    keep = F.lit(True)
    for n, mx in GOPHER_TOP_NGRAM_MAX_X1000.items():
        keep = keep & (F.col(f"top{n}_frac_x1000") <= mx)
    for n, mx in GOPHER_DUP_NGRAM_MAX_X1000.items():
        keep = keep & (F.col(f"dup{n}_frac_x1000") <= mx)
    return out.withColumn("keep", keep)


def corpus_top_tokens(spark, sf_dir, k: int = 100):
    """Exact corpus heavy hitters: top-k token frequencies. The classic
    two-level aggregation — map-side partial counts combine before the
    single shuffle on token, then a per-partition top-k merge
    (TakeOrderedAndProject), so the full token vocabulary is never
    sorted globally. Ties break on token asc for determinism."""
    docs = _docs(spark, sf_dir)
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    return (docs.select(tok.alias("token"))
            .groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("token"))
            .limit(k))


CURATION_MIN_SCORE_X1E6 = 13_000_000  # A7 score ≥ 13.0 (~p50 of the corpus)


def corpus_decontaminate(spark, sf_dir):
    """Test-set decontamination (GPT-3/PaLM-style): flag every corpus doc
    that shares >= 1 word n-gram with any doc in a benchmark/eval set,
    reporting how many distinct grams and benchmark docs it collides
    with. The benchmark here is a deterministic doc_id slice standing in
    for the tiny external eval table; gram width 3 (the corpus shingle
    width) so the sandbox corpus yields hits — production decontamination
    uses 8-13-grams via the same `width` parameter on
    dedup.shingle_array. Scale shape: the benchmark gram index is
    BROADCAST (eval sets are KB-MB against a 100 TB corpus), so the whole
    op is a map-side hash join + one shuffle on doc_id for the rollup —
    never a corpus self-join."""
    docs = _docs(spark, sf_dir)
    grams = dedup.shingle_array()
    bench = (docs.filter(F.col("doc_id") % 47 == 0)
             .select(F.col("doc_id").alias("bench_id"),
                     F.explode(grams).alias("gram")))
    corp = (docs.filter(F.col("doc_id") % 47 != 0)
            .select("doc_id", F.explode(grams).alias("gram")))
    return (corp.join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.count_distinct("gram").cast("long").alias("n_shared_grams"),
                 F.count_distinct("bench_id").cast("long").alias("n_bench_docs")))


PACK_CAPACITY = 256  # tokens per training sequence (sandbox scale)
PACK_BUCKETS = 16    # parallel packing shards


def corpus_pack_sequences(spark, sf_dir):
    """Greedy sequence packing: assign each doc to a training-sequence
    pack of <= PACK_CAPACITY tokens, first-fit in doc_id order within a
    deterministic shard (doc_id % PACK_BUCKETS). Packing is inherently
    sequential WITHIN a shard, so the scale shape is parallel-across /
    serial-within: one applyInPandas pass per bucket (at 100 TB, buckets
    = thousands of shards, each a bounded pandas group), never a global
    sort or driver loop. A doc longer than the capacity occupies its own
    pack. The DuckDB twin restates the greedy fold as a recursive CTE
    stepping row_number within each bucket, so pack assignments are
    certified value-exact."""
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    n_tokens = (F.when(F.length(F.trim(text)) == 0, F.lit(0))
                .otherwise(F.size(F.split(F.trim(text), r"\s+")))
                .cast("long"))
    toks = docs.select(
        "doc_id", n_tokens.alias("n_tokens"),
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"))
    return _pack_by_bucket(toks)


def _pack_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy first-fit fold within one bucket (doc_id order)."""
    import numpy as np
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    ns = pdf["n_tokens"].to_numpy()
    seq = np.zeros(len(pdf), dtype=np.int64)
    s, cur = 0, 0
    for i, n in enumerate(ns):
        if cur > 0 and cur + n > PACK_CAPACITY:
            s, cur = s + 1, 0
        seq[i] = s
        cur += n
    return pdf.assign(pack_seq=seq)


def _pack_by_bucket(toks: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, bucket) → + pack_seq via one grouped-pandas pass."""
    return toks.groupBy("bucket").applyInPandas(
        _pack_pandas, "doc_id long, n_tokens long, bucket long, pack_seq long")


def corpus_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation — the composition a 100 TB corpus
    job actually runs, built from the already-oracle-checked stages:

      1. quality gate  — A7 score_v2 ≥ 13.0, thresholded on the x1e6
                         INTEGER so Spark and DuckDB can never disagree
                         at the float boundary;
      2. language gate — X8 deterministic lang id == 'en';
      3. exact dedup   — keep the smallest doc_id per md5(text)
                         (one shuffle on the content hash);
      4. near-dup drop — SimHash banded pairs (Hamming ≤ 1 here — the
                         synthetic corpus is topically dense, so ≤ 3
                         collapses it to almost nothing; banding is
                         lossless for any threshold ≤ n_bands − 1); a
                         doc is dropped when ANY smaller-id
                         near-duplicate exists (greedy keep-first —
                         deterministic without computing connected
                         components), via a left-anti join.

    Scale: gates are map-side; the dedup window shuffles (hash, doc);
    the near-dup stage is the banded equi-join + an anti-join on doc_id.
    Output: (doc_id, score_x1e6, lang) of the surviving documents.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", "text",
        F.floor(textfn.score_v2_col(F.col("text")) * 1e6 + F.lit(0.5))
        .cast("long").alias("score_x1e6"),
        textfn.lang_col(F.col("text")).alias("lang"))
    kept = scored.filter((F.col("score_x1e6") >= CURATION_MIN_SCORE_X1E6)
                         & (F.col("lang") == "en"))
    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    deduped = (kept.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).drop("rn"))
    hs = F.transform(
        F.array_distinct(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0)),
        lambda wd: F.substring(F.md5(wd), 1, 8))
    sigs = deduped.select("doc_id", hs.alias("hs")).select(
        "doc_id", F.expr(dedup.simhash_expr_sql("spark")).alias("simhash"))
    near_dups = (dedup.simhash_band_pairs(sigs, max_hamming=1)
                 .select(F.col("doc_b").alias("doc_id")).distinct())
    return (deduped.join(near_dups, "doc_id", "left_anti")
            .select(F.col("doc_id").cast("long"), "score_x1e6", "lang"))


def corpus_pipeline_v2(spark, sf_dir):
    """Raw docs → packed training manifest, one DAG — the full modern
    pretraining-prep composition, each stage reusing an
    already-oracle-checked operator:

      1. Gopher/C4 quality gate (map-only codegen, `_gopher_metrics`);
      2. test-set decontamination — drop the benchmark slice
         (doc_id % 47 == 0) and every doc sharing a word n-gram with it
         (broadcast benchmark gram index, anti-join);
      3. exact dedup — keep the smallest doc_id per md5(text) among
         survivors (one shuffle on the content hash);
      4. greedy sequence packing of survivors into PACK_CAPACITY-token
         sequences (parallel-across-buckets grouped-pandas pass).

    Scale: gate is map-side; decontamination never shuffles the corpus
    for its join; dedup and packing are one key-shuffle each. Output:
    (doc_id, n_tokens, bucket, pack_seq) — the training-data manifest.
    The DuckDB twin restates all four stages (recursive CTE for the
    packing fold), so the composition is certified value-exact
    end-to-end."""
    docs = _docs(spark, sf_dir)
    gated = docs.filter(_gopher_metrics(F.col("text"))["keep"])

    grams = dedup.shingle_array()
    bench = (docs.filter(F.col("doc_id") % 47 == 0)
             .select(F.explode(grams).alias("gram")).distinct())
    corp = gated.filter(F.col("doc_id") % 47 != 0)
    contaminated = (corp.select("doc_id", F.explode(grams).alias("gram"))
                    .join(F.broadcast(bench), "gram")
                    .select("doc_id").distinct())
    clean = corp.join(contaminated, "doc_id", "left_anti")

    w = Window.partitionBy(F.md5("text")).orderBy(F.asc("doc_id"))
    deduped = (clean.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1).drop("rn"))

    text = F.col("text")
    n_tokens = (F.when(F.length(F.trim(text)) == 0, F.lit(0))
                .otherwise(F.size(F.split(F.trim(text), r"\s+")))
                .cast("long"))
    toks = deduped.select(
        "doc_id", n_tokens.alias("n_tokens"),
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"))
    return _pack_by_bucket(toks)


CHUNK_RETRIEVAL_QUERY = "spark data engine quality filter"


def chunk_l2_topk(spark, sf_dir):
    """Embedding-based chunk retrieval (reference's primary RAG top-k):
    L2 top-5 over deterministic chunk embeddings of the X3 chunks table
    (src/utils.py:38-56 IndexFlatL2 semantics)."""
    return similarity.chunk_l2_topk(chunks_modern(spark, sf_dir),
                                    CHUNK_RETRIEVAL_QUERY, k=5)


def chunk_cosine_topk(spark, sf_dir):
    """_embedding_search analog (ocr_app/utils/text_utils.py:157-169):
    raw-dot-product chunk retrieval over the X3 chunks — the reference's
    second embedding path, bug-faithfully unnormalized."""
    return similarity.chunk_cosine_topk(chunks_modern(spark, sf_dir),
                                        CHUNK_RETRIEVAL_QUERY, k=5)


RAG_QUERY = "what is the spark data engine quality"


def rag_fallback_pipeline(spark, sf_dir, k: int = 5):
    """End-to-end deterministic RAG over each document — the reference's
    full fallback flow in ONE query (_fallback_qa,
    ocr_app/rag/rag_processor.py:114-165): X3 chunking → X5 keyword
    ranking (normalized, 0.1 all-zero fallback, argsort[-k:][::-1] tie
    order → best = max score, larger chunk_idx on ties) → X14 answer
    extraction over the best chunk; confidence = best normalized score.

    Scale shape: chunker UDF + posexplode, per-doc window (partitioned by
    doc_id — never global), X14 UDF only on the one best chunk per doc,
    left join back to catch no-chunk docs. Oracle = pyref composition
    golden (golden.ensure_rag_golden)."""
    import re as _re

    from .golden import RAG_NO_TEXT, ensure_rag_golden
    from .operators.chunker import split_chunks_udf
    from .qa import make_x14_udf
    from .transcripts import tier_for_sf_dir

    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_rag_golden(sf_dir, RAG_QUERY)
    qwords = sorted(set(_re.findall(r"\w+", RAG_QUERY.lower())))

    docs = _docs(spark, sf_dir)
    chunks = (docs.select(
        "doc_id",
        F.posexplode(split_chunks_udf(F.coalesce(F.col("text"), F.lit(""))))
        .alias("chunk_idx", "chunk")))
    raw = textfn.keyword_score_x5_col(F.col("chunk"), qwords)
    wd = Window.partitionBy("doc_id")
    scored = (chunks.withColumn("raw", raw)
              .withColumn("mx", F.max("raw").over(wd))
              .withColumn("rn", F.row_number().over(
                  wd.orderBy(F.desc("raw"), F.desc("chunk_idx")))))
    best = (scored.filter(F.col("rn") == 1)
            .withColumn("conf",
                        F.when(F.col("mx") > 0, F.col("raw") / F.col("mx"))
                        .otherwise(F.lit(0.1)))
            .withColumn("answer", make_x14_udf(RAG_QUERY)(F.col("chunk")))
            .select("doc_id", "answer", "conf"))
    return (docs.select("doc_id").join(best, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("answer"), F.lit(RAG_NO_TEXT)).alias("answer"),
                    F.floor(F.coalesce(F.col("conf"), F.lit(0.0)) * 1e6 + F.lit(0.5))
                    .cast("long").alias("conf_x1e6")))


# ---------------------------------------------------------------------------
# Multimodal (real BMP/PPM/WAV decode; oracle = numpy-free mmref golden)
# ---------------------------------------------------------------------------


def _media(spark, sf_dir):
    from . import multimodal as mm
    from .golden import ensure_media_golden
    from .transcripts import tier_for_sf_dir

    tier = tier_for_sf_dir(sf_dir)
    if tier != "bench":
        ensure_media_golden(sf_dir)
    n = mm.MEDIA_N_BY_TIER.get(tier, 60)
    return mm.synthetic_media(spark, n)


def media_image_features(spark, sf_dir):
    """Decode (real BMP/PPM) → channel means + integer 8x8 average hash."""
    from . import multimodal as mm

    feats = mm.image_features(
        _media(spark, sf_dir),
        partitions=spark.sparkContext.defaultParallelism)
    return feats.select(
        "media_id", "width", "height",
        F.floor(F.col("mean_r") * 1e6 + F.lit(0.5)).cast("long").alias("mean_r_x1e6"),
        F.floor(F.col("mean_g") * 1e6 + F.lit(0.5)).cast("long").alias("mean_g_x1e6"),
        F.floor(F.col("mean_b") * 1e6 + F.lit(0.5)).cast("long").alias("mean_b_x1e6"),
        "phash")


def media_video_frames(spark, sf_dir):
    """Decode (real uncompressed RIFF/AVI) → one row per container frame
    with integer-exact channel means + average hash (per-frame analog of
    the reference's PDF page fan-out, ocr_engine.py:282-335)."""
    from . import multimodal as mm

    feats = mm.video_frame_features(
        _media(spark, sf_dir),
        partitions=spark.sparkContext.defaultParallelism)
    return feats.select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("int").alias("ts_ms"),
        F.floor(F.col("mean_r") * 1e6 + F.lit(0.5)).cast("long").alias("mean_r_x1e6"),
        F.floor(F.col("mean_g") * 1e6 + F.lit(0.5)).cast("long").alias("mean_g_x1e6"),
        F.floor(F.col("mean_b") * 1e6 + F.lit(0.5)).cast("long").alias("mean_b_x1e6"),
        "phash")


def media_audio_features(spark, sf_dir):
    """Decode (real PCM16 WAV) → RMS energy + zero-crossing count."""
    from . import multimodal as mm

    feats = mm.audio_features(
        _media(spark, sf_dir),
        partitions=spark.sparkContext.defaultParallelism)
    return feats.select(
        "media_id", "duration_ms",
        F.floor(F.col("rms") * 1e9 + F.lit(0.5)).cast("long").alias("rms_x1e9"),
        F.col("zero_cross").cast("long").alias("zero_cross"))


# ---------------------------------------------------------------------------
# Events (sessionization = the SQL-native gaps-and-islands twin of A2)
# ---------------------------------------------------------------------------


def events_hourly(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour_bucket"),
        "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
             .alias("sum_value_x100")))


def events_sessions(spark, sf_dir, gap_s: int = 1800):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        (F.unix_micros(F.col("ts").cast("timestamp"))
        - F.lag(F.unix_micros(F.col("ts").cast("timestamp"))).over(w))
        > gap_s * 1_000_000, 1).otherwise(0)
    return (ev.withColumn("brk", brk)
            .groupBy("user_id")
            .agg((F.sum("brk") + 1).cast("long").alias("n_sessions")))


def events_asof_join(spark, sf_dir):
    """As-of (point-in-time / attribution) join: each 'click' event picks
    the most recent 'view' by the same user ordered strictly before it
    by (ts, event_id) — the classic temporal join Spark lacks as a
    builtin. Implemented as ONE window pass over the union of both
    sides — `last(view_id, ignorenulls) OVER (rows unbounded
    preceding .. 1 preceding)` — so the only shuffle is the hash
    partition on user_id; never an inequality join (whose
    broadcast-nested-loop plan is quadratic per user at corpus scale).
    Output: (event_id, view_event_id nullable, gap_ms nullable)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    sub = ev.filter(F.col("event_type").isin("click", "view"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    view_id = F.last(F.when(F.col("event_type") == "view", F.col("event_id")),
                     ignorenulls=True).over(w)
    view_ts = F.last(F.when(F.col("event_type") == "view", F.col("ts")),
                     ignorenulls=True).over(w)
    # floor each side to whole ms BEFORE subtracting (DuckDB's epoch_ms
    # floors per operand; flooring the difference can differ by 1 ms).
    # ts is TIMESTAMP_NTZ; the cast's session-tz shift is a whole-ms
    # constant that cancels in the per-row difference.
    def _ms(c):
        return F.floor(F.unix_micros(c.cast("timestamp")) / 1000)

    return (sub
            .withColumn("view_event_id", view_id.cast("long"))
            .withColumn("gap_ms",
                        (_ms(F.col("ts")) - _ms(view_ts)).cast("long"))
            .filter(F.col("event_type") == "click")
            .select(F.col("event_id").cast("long"), "view_event_id", "gap_ms"))


# ---------------------------------------------------------------------------
# Corpus-level boilerplate-line suppression (CCNet-style frequent-line gate)
# ---------------------------------------------------------------------------

BP_SEED_HEADER = "Example Corp Documentation Portal - All Rights Reserved."
BP_SEED_FOOTER = "Home | About | Contact | Privacy Policy."
BP_SEED_COOKIE = "We use cookies to improve your browsing experience."
BP_MIN_DOCS = 5        # absolute floor of the doc-frequency gate
BP_FRACTION_DEN = 20   # relative gate: line must appear in >= n_docs/20 docs


def _bp_seeded_docs(docs):
    """Paged derivation of documents with deterministically seeded
    header / footer / cookie-banner lines (doc_id % 3 / % 4 / % 7) — the
    corpus the boilerplate detector and stripper run over. The synthetic
    documents are single-line, so without seeding the frequent-line gate
    would only fire on exact-duplicate docs; the seeds exercise the
    positive AND negative paths identically in both engines (the
    doc_entities_seeded non-vacuity pattern)."""
    paged = F.regexp_replace(
        F.col("text"), r"((?:\w+\s+){7}\w+)\s+", "$1.\n")

    def pre(mod: int, seed: str):
        return (F.when(F.col("doc_id") % mod == 0, F.lit(seed + "\n"))
                .otherwise(F.lit("")))

    def post(mod: int, seed: str):
        return (F.when(F.col("doc_id") % mod == 0, F.lit("\n" + seed))
                .otherwise(F.lit("")))

    seeded = F.concat(pre(3, BP_SEED_HEADER), paged,
                      post(4, BP_SEED_FOOTER), post(7, BP_SEED_COOKIE))
    return docs.select("doc_id", seeded.alias("text"))


def _bp_frequent_lines(docs):
    """(line, doc_freq) for normalized (trim+lower) lines whose document
    frequency clears greatest(BP_MIN_DOCS, n_docs/BP_FRACTION_DEN).

    Scale: per-doc array_distinct compacts map-side BEFORE the explode,
    so the ONE shuffle is on line hash with partial counts (a line
    repeated inside one doc costs nothing extra); the relative threshold
    bounds the qualifying set to <= DEN * avg_lines_per_doc line types
    regardless of corpus size — that bound is what lets the stripper
    broadcast the set back. The n_docs scalar rides a 1-row broadcast
    cross join (never a collect)."""
    norm = F.transform(F.split(F.col("text"), "\n", -1),
                       lambda line: F.trim(F.lower(line)))
    lines = docs.select(
        F.explode(F.array_distinct(
            F.filter(norm, lambda line: line != ""))).alias("line"))
    freq = lines.groupBy("line").agg(
        F.count("*").cast("long").alias("doc_freq"))
    tot = docs.agg(F.count("*").cast("long").alias("n_docs"))
    thr = F.greatest(
        F.lit(BP_MIN_DOCS).cast("long"),
        F.floor(F.col("n_docs") / float(BP_FRACTION_DEN)).cast("long"))
    return (freq.crossJoin(F.broadcast(tot))
            .filter(F.col("doc_freq") >= thr)
            .select("line", "doc_freq"))


def corpus_boilerplate_lines(spark, sf_dir):
    """Corpus-statistical boilerplate detection (CCNet, Wenzek et al.
    2020 — dedup-by-frequent-line): normalized lines shared by many
    documents ARE the headers/footers/cookie banners. This is the
    corpus-scale twin of the reference's per-image noise suppression
    (confidence-thresholded token filtering, ocr_app/core/ocr_engine.py)
    — at 100 TB the repeated-noise signal is statistical, not per-row.
    Output: (line, doc_freq) for every line clearing the gate."""
    return _bp_frequent_lines(_bp_seeded_docs(_docs(spark, sf_dir)))


def doc_strip_boilerplate(spark, sf_dir):
    """Apply the frequent-line gate: remove boilerplate lines from every
    document. The detected set is aggregated to ONE row (array_sort for
    determinism) and broadcast — a map-only array_filter per doc after
    the detection pass; never a per-line anti-join shuffle of the full
    corpus. Output per doc: line/char in-out accounting + cleaned text."""
    docs = tracked_cache(_bp_seeded_docs(_docs(spark, sf_dir)))
    bp = _bp_frequent_lines(docs).agg(
        F.array_sort(F.collect_set("line")).alias("bp"))
    lines = F.split(F.col("text"), "\n", -1)
    kept = F.filter(lines, lambda line: ~F.array_contains(
        F.col("bp"), F.trim(F.lower(line))))
    clean = F.concat_ws("\n", kept)
    return docs.crossJoin(F.broadcast(bp)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        F.length(F.col("text")).cast("long").alias("chars_in"),
        F.length(clean).cast("long").alias("chars_out"),
        clean.alias("clean_text"))


# ---------------------------------------------------------------------------
# Transcript-native analytics over the north-star role/tool columns
# ---------------------------------------------------------------------------


def conversation_role_transitions(spark, sf_dir):
    """Role-transition matrix (Markov bigram counts) over the transcript
    table's role sequence: ONE lag window partitioned on conv_id (the
    same per-conversation order every extraction query uses) feeding a
    tiny (|roles|^2-key) partial-agg shuffle. Certifies the window+agg
    composition on the north-star input shape. Output:
    (prev_role, role, n_transitions)."""
    t = (spark.read.parquet(ensure_transcripts_for_sf_dir(sf_dir))
         .select("conv_id", "turn_idx", "role"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (t.select(F.lag("role").over(w).alias("prev_role"),
                     F.col("role"))
            .filter(F.col("prev_role").isNotNull())
            .groupBy("prev_role", "role")
            .agg(F.count("*").cast("long").alias("n_transitions")))


def conversation_tool_stats(spark, sf_dir):
    """Per-role tool-payload accounting over the transcript `tool`
    column (the last input_hint column with no dedicated rollup):
    map-only length projections into a 3-key partial-agg shuffle.
    Output: (role, n_turns, n_tool_turns, sum_tool_chars,
    sum_text_chars)."""
    t = (spark.read.parquet(ensure_transcripts_for_sf_dir(sf_dir))
         .select("role", "text", "tool"))
    return t.groupBy("role").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum((F.col("tool") != "").cast("long")).cast("long")
        .alias("n_tool_turns"),
        F.sum(F.length("tool")).cast("long").alias("sum_tool_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_text_chars"))


# ---------------------------------------------------------------------------
# TPC-H wave 2 (Q6/Q10/Q13/Q18 shapes over the provided warehouse tables)
# ---------------------------------------------------------------------------


def tpch_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shaped forecasting-revenue-change: the pure scan-side
    aggregate — every predicate (shipdate window, discount band,
    quantity cap) pushes to the parquet scan, then a partial+final agg
    with NO shuffle of data rows at all (one-row exchange of partials).
    The canary query for filter pushdown. Output: (n_rows, revenue_c)."""
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast(
              "timestamp_ntz"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01").cast(
                      "timestamp_ntz"))
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24.0)))
    return li.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("long").alias("revenue_c"))


def tpch_returned_items(spark, sf_dir, k: int = 20):
    """TPC-H Q10-shaped returned-item report: revenue lost to returns
    per customer over a quarter window. lineitem⨝orders shuffles on the
    orderkey both sides already carry; the customer join shuffles on
    custkey with NO broadcast hint (customer grows linearly with scale
    factor — AQE may downgrade at runtime); only nation (fixed 25 rows)
    is broadcast. Top-k compiles to TakeOrderedAndProject with a
    custkey tiebreak for determinism. Output:
    (c_custkey, c_name, n_name, revenue_c)."""
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey",
                  _cents(F.col("l_extendedprice")
                         * (1.0 - F.col("l_discount"))).alias("rev_c")))
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .filter((F.col("o_orderdate") >= F.lit("1995-07-01").cast(
                  "timestamp_ntz"))
                      & (F.col("o_orderdate") < F.lit("1996-01-01").cast(
                          "timestamp_ntz")))
              .select("o_orderkey", "o_custkey"))
    cust = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            .select("c_custkey", "c_name", "c_nationkey"))
    nation = (spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
              .select("n_nationkey", "n_name"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    return (j.groupBy(F.col("c_custkey").cast("long").alias("c_custkey"),
                      "c_name", "n_name")
            .agg(F.sum("rev_c").cast("long").alias("revenue_c"))
            .orderBy(F.desc("revenue_c"), F.asc("c_custkey")).limit(k))


def tpch_large_orders(spark, sf_dir, min_qty: int = 250):
    """TPC-H Q18-shaped large-volume-customer query: orders whose total
    line quantity clears a threshold, with their customer. The HAVING
    side is a map-side-partial sum on the orderkey lineitem already
    carries; the survivor set (0.01-1% of orders) then drives the
    orders/customer shuffle joins — both linear tables, no broadcast
    hints. l_quantity is floored per ROW before the integer sum (DuckDB
    casts round, Spark casts truncate — floor is the dialect-safe way).
    Output: (c_custkey, c_name, o_orderkey, o_orderdate, total_c,
    sum_qty), unordered (the driver compare is order-insensitive)."""
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_orderkey",
                  F.floor(F.col("l_quantity")).cast("long").alias("qty")))
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("qty").cast("long").alias("sum_qty"))
           .filter(F.col("sum_qty") > min_qty))
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      _cents(F.col("o_totalprice")).alias("total_c")))
    cust = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            .select("c_custkey", "c_name"))
    j = (big.join(orders, big.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey))
    return j.select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name",
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "total_c", "sum_qty")


def tpch_custdist(spark, sf_dir):
    """TPC-H Q13-shaped customer order-count distribution: customer
    LEFT JOIN orders (zero-order customers MUST survive — count(o) = 0),
    per-customer order count, then the count-of-counts rollup. One
    custkey shuffle join of two linearly-growing tables (never a
    broadcast), one tiny distribution agg. The provided orders table has
    no comment column, so the classic NOT LIKE '%special%requests%'
    predicate is documented out rather than faked. Output:
    (c_count, custdist)."""
    cust = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            .select("c_custkey"))
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .select("o_custkey"))
    per = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
           .groupBy("c_custkey")
           .agg(F.count("o_custkey").cast("long").alias("c_count")))
    return per.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist"))


# ---------------------------------------------------------------------------
# Per-source curation telemetry + extraction-variant agreement
# ---------------------------------------------------------------------------


def corpus_source_stats(spark, sf_dir):
    """Per-source curation telemetry over the documents table's `source`
    column — the rollup a 100 TB crawl pipeline watches per domain:
    doc/lang/char counts, exact-duplicate share, and mean A6 quality.
    The dup flag reuses the exact-dedup shape (ONE md5 shuffle with
    map-side partials, group sizes joined back on the same key — no
    second scan: the md5 frame carries source along); quality is the
    per-doc floored x1e6 integer so per-source means are exact. Output:
    (source, n_docs, n_langs, sum_chars, n_dup_docs, mean_quality_x1e6).
    """
    score = textfn.score_v1_col(F.col("text"))
    base = _docs(spark, sf_dir).select(
        "source", "lang",
        F.md5(F.col("text")).alias("h"),
        F.length("text").cast("long").alias("n_chars"),
        F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("q_x1e6"))
    grp = base.groupBy("h").agg(F.count("*").cast("long").alias("group_sz"))
    j = base.join(grp, "h")
    return (j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum((F.col("group_sz") > 1).cast("long")).cast("long")
        .alias("n_dup_docs"),
        F.floor(F.sum("q_x1e6") / F.count("*")).cast("long")
        .alias("mean_quality_x1e6")))


def extract_variant_agreement(spark, sf_dir):
    """Cross-variant agreement telemetry: the reference ships three line
    -clustering variants (A2 v1/v2/v3) and its tests compare their
    outputs; at corpus scale the same comparison is a join of the two
    extraction frames on (conv_id, turn_idx) — both sides derive from
    the SAME cached session extraction, so the join inputs are already
    co-partitioned and no third scan of the transcripts happens. Output
    (one row): n_turns, n_equal, sum_len_delta."""
    v1 = (extract_boxes_v1(spark, sf_dir)
          .withColumnRenamed("extracted_text", "t1"))
    v3 = (extract_boxes_v3(spark, sf_dir)
          .withColumnRenamed("extracted_text", "t3"))
    j = v1.join(v3, ["conv_id", "turn_idx"])
    return j.agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum((F.col("t1") == F.col("t3")).cast("long")).cast("long")
        .alias("n_equal"),
        F.sum(F.abs(F.length("t1") - F.length("t3"))).cast("long")
        .alias("sum_len_delta"))


def turn_link_density(spark, sf_dir):
    """Per-turn DOM link-density telemetry for HTML payloads — the
    north-star heuristic (text-density / link-density boilerplate
    scoring, the htmlx scanner's decision signal) exposed as a queryable
    rollup: tag count, tag-stripped text chars, anchor-text chars, and
    link density (anchor chars / text chars, x1e6 floored). Pure JVM
    regex expressions over the raw turn text gated by the F5 kind
    sniffer — map-only, zero shuffle, partition-count preserving at any
    corpus size. The oracle re-derives the same numbers in DuckDB from
    the raw transcripts joined to the golden's kind column (sniffer ≡
    golden kind is separately certified by extract_kind_metrics).
    Output: (conv_id, turn_idx, n_tags, text_chars, anchor_chars,
    link_density_x1e6)."""
    from .operators.extract import kind_col

    t = _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text",
                                           "tool")
    h = t.filter(kind_col() == "html")
    strip = F.regexp_replace(F.col("text"), r"<[^>]*>", "")
    anchors = F.regexp_extract_all(
        F.col("text"), F.lit(r"(?is)<a[^>]*>(.*?)</a>"), 1)
    anchor_chars = F.aggregate(
        anchors, F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(F.regexp_replace(x, r"<[^>]*>", "")))
    n_tags = F.size(F.regexp_extract_all(F.col("text"),
                                         F.lit(r"<[^>]*>"), 0))
    text_chars = F.length(strip)
    dens = F.when(text_chars > 0,
                  F.floor(F.lit(1e6) * anchor_chars / text_chars)
                  ).otherwise(F.lit(0))
    return h.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        n_tags.cast("long").alias("n_tags"),
        text_chars.cast("long").alias("text_chars"),
        anchor_chars.cast("long").alias("anchor_chars"),
        dens.cast("long").alias("link_density_x1e6"))


def corpus_sample_weighted(spark, sf_dir, k: int = 100):
    """Weighted sampling without replacement (Efraimidis & Spirtakis
    2006, the A-ES exponential-key family): each doc draws a
    deterministic uniform u from its md5 coin and ranks by ln(u)/w with
    w = its token count; the top-k by that key IS a weighted sample
    without replacement. Distributed shape: map-only key computation
    (no RNG state, no driver), TakeOrderedAndProject top-k
    (per-partition heads + k·p merge — never a global sort); rerunning
    at ANY partitioning yields the identical sample. Key floored once
    on the 1e6 grid (division-first ln — the DSIR rounding convention)
    so both engines agree bit-for-bit. Output:
    (doc_id, n_tokens, key_x1e6)."""
    docs = _docs(spark, sf_dir)
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 16, 10).cast("long") % 1000000) + 1) / 1000000.0
    w = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(r"\w+"), 0)).cast("long"))
    key = F.floor(F.lit(1000000.0) * F.log(u) / w).cast("long")
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        w.alias("n_tokens"), key.alias("key_x1e6"))
            .orderBy(F.desc("key_x1e6"), F.asc("doc_id")).limit(k))


def corpus_token_entropy(spark, sf_dir):
    """Shannon entropy of the corpus token distribution — the classic
    corpus-health diagnostic (templated/duplicated corpora collapse it;
    it upper-bounds the gain any compressor/LM can extract). Identity
    used: H = ln N − (Σ n·ln n)/N over per-type counts, so it reuses
    the compacted-tf shape: occurrence stream folds to per-type counts
    map-side before the ONE token shuffle; each n·ln n term is floored
    per TYPE on the 1e6 grid so the corpus sum is an order-independent
    integer, and the final entropy composes already-floored integers
    only. Output: (n_tokens, vocab_size, sum_nlogn_x1e6, entropy_x1e6).
    """
    docs = _docs(spark, sf_dir)
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    tf = docs.select(tok.alias("token")).groupBy("token").agg(
        F.count("*").cast("long").alias("n"))
    agg = tf.agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.floor(F.lit(1000000.0) * F.col("n") * F.log(F.col("n"))
                      + F.lit(0.5)))
        .cast("long").alias("sum_nlogn_x1e6"))
    return agg.select(
        "n_tokens", "vocab_size", "sum_nlogn_x1e6",
        (F.floor(F.lit(1000000.0) * F.log(F.col("n_tokens")) + F.lit(0.5))
         - F.floor(F.col("sum_nlogn_x1e6") / F.col("n_tokens")))
        .cast("long").alias("entropy_x1e6"))


def dedup_minhash_recall(spark, sf_dir):
    """MinHash-LSH quality eval — the dedup counterpart of
    `ann_ivf_recall`: measured recall of the banded candidate generation
    against the exact Jaccard-threshold pair set (Broder 1997 resemblance
    / Leskovec-Rajaraman-Ullman ch.3 eval convention). Precision is 1 by
    construction (LSH pairs are exact-verified), so the certified number
    is recall: |LSH ∩ exact| / |exact|. By-declaration exact on the
    ground-truth side (the df-uncapped inverted-index join — this query
    exists to certify recall, the LSH path is the scale path); the LSH
    side is the production single-pass band explode. Output (one row):
    (n_true_pairs, n_recalled, recall_x1e6)."""
    docs = _docs(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(docs)
    lsh = (dedup.minhash_lsh_pairs(docs)
           .select("doc_a", "doc_b", F.lit(1).alias("hit")))
    j = exact.join(lsh, ["doc_a", "doc_b"], "left")
    rec = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return j.agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        rec.cast("long").alias("n_recalled"),
        F.floor(F.lit(1000000.0) * rec / F.count("*")).cast("long")
        .alias("recall_x1e6"))


def emb_pq_encode(spark, sf_dir):
    """Product quantization over the embeddings table (Jégou et al.
    2011) — m=4 subspaces × 16 codewords; see similarity.pq_encode for
    the codebook convention and the 10^9-vector scale notes."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.pq_encode(emb, m=4, ksub=16, dim=dim)


def corpus_pipeline_v4(spark, sf_dir, k: int = 50):
    """Curation pipeline v4 — the wave-2 composition: CCNet boilerplate
    strip (frequent-line gate, broadcast set) → Gopher quality gate ON
    THE STRIPPED TEXT → A-ES weighted sample of the survivors (top-k by
    deterministic exponential key, weight = surviving token count). One
    DAG: detection's single line shuffle + 1-row broadcasts, map-only
    strip and gate, TakeOrdered sample — no other exchange touches the
    corpus. This is the shape a 100 TB pretraining prep run takes when
    the training budget is smaller than the cleaned corpus: clean, gate,
    then sample proportionally to surviving content. Output:
    (doc_id, n_tokens, key_x1e6)."""
    docs = tracked_cache(_bp_seeded_docs(_docs(spark, sf_dir)))
    bp = _bp_frequent_lines(docs).agg(
        F.array_sort(F.collect_set("line")).alias("bp"))
    lines = F.split(F.col("text"), "\n", -1)
    kept = F.filter(lines, lambda line: ~F.array_contains(
        F.col("bp"), F.trim(F.lower(line))))
    cleaned = docs.crossJoin(F.broadcast(bp)).select(
        "doc_id", F.concat_ws("\n", kept).alias("text"))
    gated = cleaned.filter(_gopher_metrics(F.col("text"))["keep"])
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 16, 10).cast("long") % 1000000) + 1) / 1000000.0
    w = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(r"\w+"), 0)).cast("long"))
    key = F.floor(F.lit(1000000.0) * F.log(u) / w).cast("long")
    return (gated.select(F.col("doc_id").cast("long").alias("doc_id"),
                         w.alias("n_tokens"), key.alias("key_x1e6"))
            .orderBy(F.desc("key_x1e6"), F.asc("doc_id")).limit(k))


def ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance ANN search (Jégou et al. 2011 §IV) — the
    memory-bound 10^9-vector scan; see similarity.pq_adc_topk."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.pq_adc_topk(emb, n_queries=20, k=3, m=4, ksub=16,
                                  dim=dim)


# ---------------------------------------------------------------------------
# TPC-H wave 3: the three join shapes the catalog still lacked —
# left-SEMI (Q4's EXISTS), left-ANTI under a global scalar threshold
# (Q22's NOT EXISTS + subquery), and per-group scalar decorrelation
# (Q17's correlated AVG). All money/quantity math is integer (cents /
# floored units) so the DuckDB twins match exactly.
# ---------------------------------------------------------------------------


def tpch_priority_returns(spark, sf_dir):
    """TPC-H Q4 shape (EXISTS → left-semi join): orders that have at
    least one RETURNED line (l_returnflag = 'R'; the provided lineitem
    has no commit/receipt dates, so the late-delivery predicate of the
    canonical Q4 is re-based on the return flag), counted per order
    priority. Scale: both scans are 2-column pruned with the returnflag
    filter pushed to parquet; the EXISTS compiles to ONE left-semi
    shuffle join on l_orderkey (semi joins never materialize the build
    side's duplicates), then a 5-group partial-agg rollup. Neither side
    is broadcast — orders and lineitem both grow linearly with SF.
    Output: (o_orderpriority, order_count)."""
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .select("o_orderkey", "o_orderpriority"))
    returned = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
                .filter(F.col("l_returnflag") == "R")
                .select("l_orderkey"))
    return (orders
            .join(returned, orders.o_orderkey == returned.l_orderkey,
                  "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("long").alias("order_count")))


def tpch_quiet_big_accounts(spark, sf_dir):
    """TPC-H Q22 shape (scalar subquery + NOT EXISTS → left-anti join):
    per nation, the customers whose balance exceeds the mean positive
    balance yet have placed NO urgent order (the provided schema keeps
    every customer active, so the canonical 'no orders at all' anti set
    is empty — the anti side is re-based on o_orderpriority='1-URGENT'
    to keep the join non-vacuous while preserving the exact plan shape).
    The global threshold is integer cents with bigint floor-division
    (sum_c div n) — no float avg crosses the dialect boundary. Scale:
    the threshold is a 1-row aggregate broadcast-crossed onto customer
    (the only legal broadcast here); the anti join shuffles on custkey
    with the urgent filter pushed into the orders scan; customer and
    orders are never broadcast (both SF-linear).
    Output: (c_nationkey, numcust, total_bal_c)."""
    cust = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            .select("c_custkey", "c_nationkey",
                    F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5))
                    .cast("long").alias("bal_c")))
    th = (cust.filter(F.col("bal_c") > 0)
          .agg(F.sum("bal_c").alias("s"), F.count("*").alias("n"))
          .select(F.expr("s div n").alias("threshold_c")))
    urgent = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey"))
    rich = (cust.crossJoin(F.broadcast(th))
            .filter(F.col("bal_c") > F.col("threshold_c")))
    return (rich
            .join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count("*").cast("long").alias("numcust"),
                 F.sum("bal_c").cast("long").alias("total_bal_c")))


def tpch_small_qty_revenue(spark, sf_dir, brand: str = "Brand#12"):
    """TPC-H Q17 shape (correlated per-part AVG → aggregate-then-join-
    back decorrelation): revenue from small-quantity lines of one
    brand's parts, where 'small' means below 20% of that part's own
    mean order quantity. The correlated predicate l_quantity <
    0.2*avg(l_quantity) is decorrelated as 5*qty*cnt < sum_qty — pure
    bigint, no division, dialect-exact. Scale: the brand filter (1/25
    selectivity) prunes part before the left-semi restriction of
    lineitem; the per-part stats frame and the join-back share the
    l_partkey shuffle partitioning (co-partitioned, no second
    exchange), and the restricted line frame is cached once because
    both the stats pass and the probe pass consume it. part is
    SF-linear so nothing is broadcast by hint.
    Output: (n_lines, total_c) — one row."""
    pb = (spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
          .filter(F.col("p_brand") == brand).select("p_partkey"))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_partkey",
                  F.floor("l_quantity").cast("long").alias("qty"),
                  F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
                  .cast("long").alias("price_c")))
    li_b = tracked_cache(
        li.join(pb, li.l_partkey == pb.p_partkey, "left_semi"))
    st = li_b.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"), F.sum("qty").alias("sq"))
    return (li_b.join(st, "l_partkey")
            .filter(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sq"))
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum("price_c").cast("long").alias("total_c")))


# ---------------------------------------------------------------------------
# Tokenizer-training primitive: BPE first-iteration merge-pair counts
# ---------------------------------------------------------------------------


def corpus_bpe_pairs(spark, sf_dir, k: int = 50):
    """BPE merge-pair counting (Sennrich et al. 2016 §3.2, the inner
    loop of tokenizer training): frequency of every adjacent character
    pair across the corpus, weighted by word frequency — the statistic
    that picks the first merge. Scale: the occurrence stream compacts
    to per-WORD-TYPE counts first (vocabulary compaction — the same
    trick the reference BPE implementations use: a 100 TB corpus has
    billions of token occurrences but a ~10^7 word-type vocabulary),
    so the pair explode runs over the vocab-sized frame weighted by
    count, never per occurrence. Two shuffles total (word types, then
    pair types — both vocab-bounded, both with map-side partials),
    top-k via TakeOrderedAndProject with (count desc, pair asc)
    determinism. Repeated pairs inside one word ('aaa' → 'aa'×2) are
    counted per position, matching the reference algorithm.
    Output: (pair, pair_count)."""
    docs = _docs(spark, sf_dir)
    word = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    wt = (docs.select(word.alias("w"))
          .groupBy("w").agg(F.count("*").alias("n")))
    pairs = (wt.filter(F.length("w") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(1, length(w) - 1),"
                 " i -> substring(w, i, 2))")).alias("pair"),
                 "n"))
    return (pairs.groupBy("pair")
            .agg(F.sum("n").cast("long").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(k))


def extract_boxes_xycut(spark, sf_dir):
    """Column-aware reading order via recursive XY-cut page segmentation
    (Nagy & Seth 1984) — ENGINE ADDITION: the north_star's 'column/line
    clustering' term that none of the reference's three line-clustering
    variants provides (they interleave side-by-side columns line by
    line; XY-cut emits each column band fully before the next — the
    two_column fixture reads column-major here). Same extraction plan
    shape as v1/v3 (ONE Arrow-batched dispatch UDF per turn, 4-column
    pruned scan, no shuffle); the recursion is per-turn-bounded. Oracle:
    naive pure-Python twin (pyref.format_with_layout_xycut) materialized
    to golden parquet; numpy/pyref equivalence pinned by
    tests/test_layout_equiv.py. Output: (conv_id, turn_idx,
    extracted_text)."""
    return (_extracted(spark, sf_dir, variant="xycut")
            .filter(F.col("kind") == "boxes")
            .select("conv_id", "turn_idx", "extracted_text"))


def conversation_salted_join(spark, sf_dir):
    """Per-turn join to a per-conversation dimension THROUGH THE EXPLICIT
    SALTING SEAM (operators/skew.salted_join — the north_rule's "skew
    handled explicitly" requirement, previously tested but unused by any
    registry query, VERDICT r4 #6). Fact = the turns table, whose
    conv_id key is exactly the skewed key the north_star names
    (10^6-turn conversations); dim = the per-conversation rollup
    (n_turns, n_user — map-side partial agg absorbs the hot key on the
    build side). A window over conv_id would serialize a hot
    conversation into ONE task; the salted join spreads its fact rows
    across n_salts reducers while replicating only the tiny dim row ×8.
    Values are identical to the plain join (pinned here by the oracle
    and generally by tests/test_salted_join.py); the salt explode is
    pinned in PLANS.md. Output: (conv_id, turn_idx, role, conv_n_turns,
    conv_n_user)."""
    from .operators.skew import salted_join

    t = _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "role")
    dim = t.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("conv_n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).cast("long")
        .alias("conv_n_user"))
    return salted_join(t, dim, "conv_id", n_salts=8).select(
        "conv_id", "turn_idx", "role", "conv_n_turns", "conv_n_user")


def extract_layout_analysis(spark, sf_dir):
    """Precision-layout structure summary — the per-page layout_analysis
    shape the reference test suite consumes
    (test_precision_layout.py:154-165: total_elements, line_groups,
    columns.count, structure.{titles, bullet_points, numbered_lists});
    the producing module is absent from the snapshot, so the semantics
    are engine-defined from committed rules (spec in
    pyref.layout_analysis — kept-token count, v2 line-group count, one
    XY-cut x-projection for columns, X9 header rule for titles,
    ^[-•*]\\s bullets, ^\\d+[.)]\\s numbered). Plan: 3-column pruned
    scan (+text for the kind sniffer) → JVM kind filter → ONE
    Arrow-batched UDF over boxes turns only (six ints back across the
    boundary, the flagship dispatch UDF untouched) → projection; no
    shuffle, per-turn bounded. Oracle: pyref golden parquet. Output:
    (conv_id, turn_idx, total_elements, line_groups, n_columns,
    n_titles, n_bullets, n_numbered)."""
    from .operators.extract import kind_col, make_layout_analysis_udf

    t = _transcripts(spark, sf_dir)
    boxes = (t.select("conv_id", "turn_idx", "text", "tool")
             .filter(kind_col() == "boxes"))
    r = make_layout_analysis_udf()(F.col("tool"))
    return (boxes.select("conv_id", "turn_idx", r.alias("r"))
            .select("conv_id", "turn_idx",
                    F.col("r.total_elements").alias("total_elements"),
                    F.col("r.line_groups").alias("line_groups"),
                    F.col("r.n_columns").alias("n_columns"),
                    F.col("r.n_titles").alias("n_titles"),
                    F.col("r.n_bullets").alias("n_bullets"),
                    F.col("r.n_numbered").alias("n_numbered")))


def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking duplication signal — see
    dedup.cdc_chunk_stats (LBFS rolling boundaries, SOSP'01)."""
    return dedup.cdc_chunk_stats(_docs(spark, sf_dir))


def corpus_sample_weighted_stratified(spark, sf_dir, k: int = 20):
    """Per-stratum weighted sampling without replacement: the A-ES
    exponential key of corpus_sample_weighted ranked WITHIN each source
    — the 'k best-weighted docs per domain' draw a crawl-curation mix
    actually executes (a global top-k drains small domains; the
    per-stratum rank guarantees every source its quota). Same
    deterministic md5 coin and 1e6-grid floored ln(u)/w key (bit-exact
    across engines, partitioning-invariant); the per-group top-k is a
    row_number window over the ONE source-key shuffle — sort-based
    streaming per stratum, never a global sort, never a driver
    collect. Output: (source, doc_id, n_tokens, key_x1e6, rk)."""
    docs = _docs(spark, sf_dir)
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                 16, 10).cast("long") % 1000000) + 1) / 1000000.0
    w = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(r"\w+"), 0)).cast("long"))
    key = F.floor(F.lit(1000000.0) * F.log(u) / w).cast("long")
    base = docs.select("source",
                       F.col("doc_id").cast("long").alias("doc_id"),
                       w.alias("n_tokens"), key.alias("key_x1e6"))
    rk = F.row_number().over(
        Window.partitionBy("source")
        .orderBy(F.desc("key_x1e6"), F.asc("doc_id")))
    return (base.withColumn("rk", rk.cast("long"))
            .filter(F.col("rk") <= k))


def doc_quality_deciles(spark, sf_dir):
    """Per-source A6-quality decile profile (ntile-10): the calibration
    table a curation threshold is read off of — per (source, decile),
    doc count and the min/max/sum of the floored x1e6 quality score.
    The ntile window is PARTITIONED by source (one source-key shuffle,
    sort-based streaming per stratum) — never a global single-partition
    sort; a stratum too large to sort would swap to percentile-boundary
    assignment, documented here as the scale escape hatch. Ties order
    by (q, doc_id) so bucket assignment is total and dialect-exact.
    Output: (source, decile, n_docs, min_q_x1e6, max_q_x1e6,
    sum_q_x1e6)."""
    score = textfn.score_v1_col(F.col("text"))
    base = _docs(spark, sf_dir).select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("q_x1e6"))
    dec = F.ntile(10).over(
        Window.partitionBy("source")
        .orderBy(F.asc("q_x1e6"), F.asc("doc_id")))
    return (base.withColumn("decile", dec.cast("long"))
            .groupBy("source", "decile")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.min("q_x1e6").alias("min_q_x1e6"),
                 F.max("q_x1e6").alias("max_q_x1e6"),
                 F.sum("q_x1e6").cast("long").alias("sum_q_x1e6")))


def ann_ivfpq_adc_topk(spark, sf_dir):
    """IVFADC: coarse cells × PQ asymmetric distance — the Faiss
    IndexIVFPQ billion-scale composition; see similarity.ivfpq_adc_topk."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.ivfpq_adc_topk(emb, n_queries=20, k=3, m=4,
                                     ksub=16, n_cells=16, n_probe=4,
                                     dim=dim)


def corpus_bpe_merge2(spark, sf_dir, k: int = 30):
    """Second BPE training iteration (Sennrich et al. 2016 §3.2): pick
    the argmax pair from iteration 1, APPLY the merge, and re-count —
    demonstrating the iterative trainer loop distributively. Merge
    application exploits that greedy left-to-right non-overlapping
    replacement (BPE's application rule) IS the semantics of literal
    string `replace` in both engines, over the space-separated symbol
    representation ('l o w e r' + merge 'e r' → 'l o w er'). Scale: the
    whole iteration runs on the compacted word-TYPE frame (weighted by
    count); the chosen merge is a 1-row broadcast; each pair count is
    one vocab-bounded shuffle with map-side partials — per iteration
    cost is O(vocab), never O(corpus). Output: (pair, pair_count) —
    the iteration-2 merge candidates."""
    docs = _docs(spark, sf_dir)
    word = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    wt = tracked_cache(
        docs.select(word.alias("w"))
        .groupBy("w").agg(F.count("*").alias("n"))
        .select(F.concat_ws(
            " ", F.regexp_extract_all(F.col("w"), F.lit(r"."), 0))
            .alias("sw"), "n"))

    def sym_pairs(frame, col):
        sy = F.split(F.col(col), " ")
        pairs = F.expr(
            f"transform(sequence(1, size(split({col}, ' ')) - 1),"
            f" i -> concat(element_at(split({col}, ' '), i), ' ',"
            f" element_at(split({col}, ' '), i + 1)))")
        return (frame.filter(F.size(sy) >= 2)
                .select(F.explode(pairs).alias("pair"), "n"))

    p1 = (sym_pairs(wt, "sw")
          .groupBy("pair").agg(F.sum("n").alias("c"))
          .orderBy(F.desc("c"), F.asc("pair")).limit(1)
          .select("pair"))
    merged = wt.crossJoin(F.broadcast(p1)).select(
        F.expr("replace(sw, pair, replace(pair, ' ', ''))").alias("mw"),
        "n")
    return (sym_pairs(merged, "mw")
            .groupBy("pair").agg(F.sum("n").cast("long")
                                 .alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("pair")).limit(k))


def dedup_apply_minhash(spark, sf_dir):
    """The dedup KILL-CHAIN end-to-end — the corpus-level decision a
    production dedup actually publishes: MinHash-LSH candidate pairs →
    exact-Jaccard verify (≥0.1) → connected components → keep-the-
    minimum-doc_id-per-cluster rule → ONE summary row (n_docs,
    n_near_dup_docs, n_dropped, n_kept). Composes the certified pieces
    (dedup.minhash_lsh_pairs + dedup.connected_components) so the
    composition ITSELF is oracle-certified, not just the stages. Scale:
    the pair/cluster stages carry their own banded/O(log n)-round
    guarantees; the two 1-row aggregates cross-attach via broadcast
    (the sanctioned parameter pattern) — no driver-side counts, no
    collect. A corpus with no near-duplicates has no components: the
    empty SUM is coalesced to 0, so n_dropped = 0 and n_kept = n_docs
    rather than NULL. Output: (n_docs, n_near_dup_docs, n_dropped,
    n_kept)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold_x1000=100) \
        .select("doc_a", "doc_b")
    comp = dedup.connected_components(pairs)
    total = docs.agg(F.count("*").cast("long").alias("n_docs"))
    stats = comp.agg(
        F.count("*").cast("long").alias("n_near_dup_docs"),
        F.coalesce(F.sum(F.when(F.col("doc_id") != F.col("cluster_id"), 1)
                         .otherwise(0)), F.lit(0)).cast("long")
        .alias("n_dropped"))
    return (total.crossJoin(F.broadcast(stats))
            .select("n_docs", "n_near_dup_docs", "n_dropped",
                    (F.col("n_docs") - F.col("n_dropped")).cast("long")
                    .alias("n_kept")))


def tpch_cheapest_supplier(spark, sf_dir, size_max: int = 10):
    """TPC-H Q2 shape (minimum-cost supplier per part): the correlated
    per-GROUP scalar-min subquery — `ps_supplycost = (SELECT min(...)
    WHERE ps_partkey = p_partkey)` — decorrelated the way Catalyst
    plans it: one (part, supplier) rollup, a per-part min, and an
    equality join-back, expressed as a single min_by/min aggregate pair
    so no second scan and no window over the whole fact is needed. The
    driver's schema ships no partsupp, so 'cost' is the supplier's
    minimum per-unit price for the part observed in lineitem (floored
    cents at the ROW level — documented adaptation; the groupwise
    argmin is the point, complementing Q15's GLOBAL argmax and Q17's
    per-group scalar average). Ties break to the smaller suppkey via
    the composite min_by key, deterministically on both engines. The
    part filter pushes to its scan; both real joins shuffle on their
    keys (SF-linear, hint-free). Output: (p_partkey, p_brand,
    best_suppkey, best_unit_c)."""
    part = (spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
            .filter(F.col("p_size") <= size_max)
            .select("p_partkey", "p_brand"))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_partkey", "l_suppkey",
                  F.floor(F.col("l_extendedprice") / F.col("l_quantity")
                          * 100.0 + 0.5).cast("long").alias("unit_c")))
    ps = (li.join(part, li.l_partkey == part.p_partkey)
          .groupBy("p_partkey", "p_brand", "l_suppkey")
          .agg(F.min("unit_c").alias("supp_unit_c")))
    # groupwise argmin with deterministic tie-break: min_by over the
    # composite (cost, suppkey) key picks the cheapest supplier, lowest
    # suppkey on cost ties — one aggregate, no join-back needed
    return (ps.groupBy("p_partkey", "p_brand")
            .agg(F.min_by("l_suppkey",
                          F.struct(F.col("supp_unit_c"),
                                   F.col("l_suppkey")))
                 .cast("long").alias("best_suppkey"),
                 F.min("supp_unit_c").cast("long").alias("best_unit_c"))
            .select(F.col("p_partkey").cast("long"), "p_brand",
                    "best_suppkey", "best_unit_c"))


def corpus_bpe_encode(spark, sf_dir, n_merges: int = 3):
    """BPE ENCODING with learned merges (Sennrich et al. 2016 §3.1 apply
    step) — completes the tokenizer-training loop the pair-count and
    merge-iteration queries started: learn the first `n_merges` merges
    iteratively on the corpus, apply them to the vocabulary, and report
    each document's token count under the learned tokenizer. Scale: the
    trainer loop runs entirely on the compacted word-TYPE frame
    (weighted by count — O(vocab) per iteration, never O(corpus)); each
    chosen merge is a 1-row broadcast; greedy left-to-right
    non-overlapping application IS literal string `replace` in both
    engines (the r4-proven rule); the encoded vocabulary is a
    vocab-sized dimension the occurrence stream equi-joins on the word
    key (hint-free — broadcastable when the vocab fits, shuffle-join at
    10^7-type corpus scale). Output: (doc_id, n_words, n_bpe_tokens)."""
    docs = _docs(spark, sf_dir)
    word = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0))
    occ = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                      word.alias("w"))
    wt = tracked_cache(
        occ.groupBy("w").agg(F.count("*").alias("n"))
        .select("w", F.concat_ws(
            " ", F.regexp_extract_all(F.col("w"), F.lit(r"."), 0))
            .alias("sw"), "n"))

    def sym_pairs(frame):
        sy = F.split(F.col("sw"), " ")
        pairs = F.expr(
            "transform(sequence(1, size(split(sw, ' ')) - 1),"
            " i -> concat(element_at(split(sw, ' '), i), ' ',"
            " element_at(split(sw, ' '), i + 1)))")
        return (frame.filter(F.size(sy) >= 2)
                .select(F.explode(pairs).alias("pair"), "n"))

    cur = wt
    for _ in range(n_merges):
        p = (sym_pairs(cur)
             .groupBy("pair").agg(F.sum("n").alias("c"))
             .orderBy(F.desc("c"), F.asc("pair")).limit(1)
             .select("pair"))
        cur = cur.crossJoin(F.broadcast(p)).select(
            "w",
            F.expr("replace(sw, pair, replace(pair, ' ', ''))")
            .alias("sw"), "n")
    enc = cur.select(
        "w", F.size(F.split("sw", " ")).cast("long").alias("n_sym"))
    return (occ.join(enc, "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("n_sym").cast("long").alias("n_bpe_tokens")))


def tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (scalar MAX subquery → argmax-equality join):
    the quarter's top supplier(s) by discounted revenue. The per-
    supplier rollup is one suppkey shuffle with map-side partials over
    the shipdate-pruned scan; the global max is a 1-row aggregate
    broadcast-crossed back (the only legal broadcast — supplier and
    lineitem are SF-linear and shuffle-join on suppkey); ties all
    surface, as in the spec's view formulation. Revenue is per-row
    floored cents (IEEE multiply is engine-deterministic; bigint sums
    are exact). Output: (s_suppkey, s_name, total_revenue_c)."""
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01"))
          .select("l_suppkey",
                  F.floor(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount"))
                          * 100.0 + F.lit(0.5))
                  .cast("long").alias("rc")))
    rev = li.groupBy("l_suppkey").agg(
        F.sum("rc").cast("long").alias("total_revenue_c"))
    mx = rev.agg(F.max("total_revenue_c").alias("m"))
    win = (rev.crossJoin(F.broadcast(mx))
           .filter(F.col("total_revenue_c") == F.col("m")))
    sup = (spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
           .select("s_suppkey", "s_name"))
    return (win.join(sup, win.l_suppkey == sup.s_suppkey)
            .select(F.col("s_suppkey").cast("long"), "s_name",
                    "total_revenue_c"))


LANG_SEED_SUFFIXES = [
    "",                                      # %7 == 0: untouched
    " der die und das ist nicht mit ein",    # de stopwords
    " le les et est dans pour que une",      # fr stopwords
    " el los las es y con para por",         # es stopwords
    " \u4e2d\u6587\u8bed\u8a00\u68c0\u6d4b\u6d4b\u8bd5",  # zh script
    " \u044d\u0442\u043e \u0442\u0435\u0441\u0442",        # ru script
    " \u0647\u0630\u0627 \u0627\u062e\u062a\u0628\u0627\u0631",  # ar script
]


def _lang_seeded_text():
    """Deterministic multilingual seeding (the doc_entities_seeded
    convention): doc_id % 7 appends a language-marked suffix so BOTH
    classifiers produce a spread — the organic sandbox corpus is
    all-English and would certify only the (en, en) cell."""
    out = F.col("text")
    cls = F.col("doc_id") % 7
    suffix = F.lit(LANG_SEED_SUFFIXES[0])
    for i in range(1, 7):
        suffix = F.when(cls == i, F.lit(LANG_SEED_SUFFIXES[i])) \
            .otherwise(suffix)
    return F.concat(out, suffix)


def doc_lang_agreement(spark, sf_dir):
    """Language-ID confusion matrix: the X8 cascade classifier vs the
    stopword-profile n-gram classifier over the same (seeded) corpus —
    the corpus-level agreement rollup a pipeline watches when swapping
    language-ID models (per-cell counts localize WHERE the cheap
    cascade and the profile model disagree; latin-stopword seeds split
    the two classifiers, script seeds agree). Plan: ONE map-only
    projection computes both classifications per row (single scan — no
    self-join; the oracle joins two restatements, the engine never
    does), then a tiny grouped count. Output:
    (lang_cascade, lang_ngram, n_docs)."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id"), _lang_seeded_text().alias("t"))
    d = d.select(
        textfn.lang_col(F.col("t")).alias("lang_cascade"),
        textfn.lang_ngram_col(F.col("t")).alias("lang_ngram"))
    return d.groupBy("lang_cascade", "lang_ngram").agg(
        F.count("*").cast("long").alias("n_docs"))


def corpus_decontaminate_anti(spark, sf_dir):
    """Decontamination as a CLEAN-set materialization (the left-anti
    complement of corpus_decontaminate's flag rollup): corpus docs that
    share NO word n-gram with the benchmark slice — what the training
    job actually reads downstream. The contaminated-id frame reuses the
    broadcast bench-gram index (eval sets are KB-MB against a 100 TB
    corpus: map-side hash join, one distinct on doc_id), and the final
    pass is ONE left-anti shuffle join of the doc frame against that
    small id set. Output: (doc_id, n_chars)."""
    docs = _docs(spark, sf_dir)
    grams = dedup.shingle_array()
    bench = (docs.filter(F.col("doc_id") % 47 == 0)
             .select(F.explode(grams).alias("gram")).distinct())
    corp = docs.filter(F.col("doc_id") % 47 != 0)
    hit = (corp.select("doc_id", F.explode(grams).alias("gram"))
           .join(F.broadcast(bench), "gram")
           .select("doc_id").distinct())
    return (corp.join(hit, "doc_id", "left_anti")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.length("text").cast("long").alias("n_chars")))


def extract_box_overlaps(spark, sf_dir):
    """Dilated box-overlap telemetry per boxes turn — the detection-
    merge statistic behind the north_star's 'layout-box interval trees'
    term: each token box dilated by 6px, pair count of intersecting
    dilated bounds + the max dilated IoU (floored x1e6 per PAIR, so the
    max is an order-free integer reduction). Plan: JVM kind sniff
    (pushed filter) → ONE ArrowEvalPython over boxes payloads →
    null-drop; per-turn pairwise numpy (tens of tokens — the interval
    sweep is the documented path for pathological single-turn box
    counts, which the salt shuffle and F6 guards already bound). No
    shuffle — map-side, linear. Oracle: pyref.box_overlap_stats golden
    (naive double loop, bit-exact shared arithmetic). Output:
    (conv_id, turn_idx, n_boxes, n_overlap_pairs, max_iou_x1e6)."""
    from .golden import ensure_overlap_golden
    from .operators.extract import kind_col
    from .operators.overlap import overlap_udf
    from .transcripts import tier_for_sf_dir

    if tier_for_sf_dir(sf_dir) != "bench":
        ensure_overlap_golden(sf_dir)
    t = _transcripts(spark, sf_dir)
    return (t.filter(kind_col() == "boxes")
            .select("conv_id", "turn_idx",
                    overlap_udf(F.col("tool")).alias("o"))
            .select("conv_id", "turn_idx", "o.n_boxes",
                    "o.n_overlap_pairs", "o.max_iou_x1e6")
            .filter(F.col("n_boxes").isNotNull()))


def ann_ivfpq_residual_topk(spark, sf_dir):
    """Residual-encoded IVFADC — the faithful Faiss IndexIVFPQ; see
    similarity.ivfpq_residual_adc_topk."""
    emb, dim = _emb(spark, sf_dir)
    return similarity.ivfpq_residual_adc_topk(
        emb, n_queries=20, k=3, m=4, ksub=16, n_cells=16, n_probe=4,
        dim=dim)


def doc_quality_decile_bounds(spark, sf_dir):
    """The scale escape hatch documented on doc_quality_deciles, made
    real: percentile-BOUNDARY decile assignment. A stratum too large to
    stream-sort through an ntile window instead computes nine exact
    interpolated boundaries per source (tens of rows — `percentile`
    aggregates with map-side partial state), BROADCASTS them back, and
    assigns each doc its decile map-side as 1 + Σ[q > b_i]; one rollup
    shuffle ends the plan. Ties share a bucket here (boundary
    semantics) where ntile splits them positionally — the two queries
    certify both definitions. Boundaries are floored to the integer
    grid so every comparison is bigint-vs-bigint. Output:
    (source, decile, n_docs)."""
    score = textfn.score_v1_col(F.col("text"))
    base = _docs(spark, sf_dir).select(
        "source",
        F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("q_x1e6"))
    baggs = [F.floor(F.expr(f"percentile(q_x1e6, {i / 10})"))
             .cast("long").alias(f"b{i}") for i in range(1, 10)]
    bounds = base.groupBy("source").agg(*baggs)
    dec = sum((F.col("q_x1e6") > F.col(f"b{i}")).cast("long")
              for i in range(1, 10)) + F.lit(1)
    return (base.join(F.broadcast(bounds), "source")
            .select("source", dec.cast("long").alias("decile"))
            .groupBy("source", "decile")
            .agg(F.count("*").cast("long").alias("n_docs")))


def tpch_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): the
    self-aliased fixed dimension — nation joins the pipeline TWICE in
    different roles (supplier side and customer side), both as
    broadcasts (25 rows, the only legal hints here); lineitem-orders
    shuffle-join on orderkey and the supplier/customer attachments
    shuffle on their keys (SF-linear, never hinted). The
    cross-filter (two nations, roles must differ) and the shipdate
    window are pushed predicates. Revenue in per-row floored cents.
    Output: (supp_nation, cust_nation, l_year, n_lines, revenue_c)."""
    nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    sup = (spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == nat.n_nationkey)
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cus = (spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
           .join(F.broadcast(nat),
                 F.col("c_nationkey") == nat.n_nationkey)
           .select("c_custkey", F.col("n_name").alias("cust_nation")))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .filter((F.col("l_shipdate") >= "1995-01-01")
                  & (F.col("l_shipdate") < "1997-01-01"))
          .select("l_orderkey", "l_suppkey",
                  F.year("l_shipdate").cast("long").alias("l_year"),
                  F.floor(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount"))
                          * 100.0 + F.lit(0.5))
                  .cast("long").alias("rc")))
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .select("o_orderkey", "o_custkey"))
    two = ["NATION_0", "NATION_1"]
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(sup, li.l_suppkey == sup.s_suppkey)
         .join(cus, orders.o_custkey == cus.c_custkey)
         .filter(F.col("supp_nation").isin(two)
                 & F.col("cust_nation").isin(two)
                 & (F.col("supp_nation") != F.col("cust_nation"))))
    return (j.groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum("rc").cast("long").alias("revenue_c")))


def tpch_market_share(spark, sf_dir, nation: str = "NATION_3"):
    """TPC-H Q8 shape (national market share): one nation's share of
    yearly supplier revenue as a conditional aggregate — the
    numerator is a CASE inside the same sum as the denominator, so the
    share needs NO second scan and no join of two aggregates. Supplier
    joins its nation via the 25-row broadcast; lineitem-supplier is the
    one data shuffle (both SF-linear, never hinted); share_x1e6 is a
    floor over two exact bigint sums. Output:
    (l_year, nation_rev_c, total_rev_c, share_x1e6)."""
    nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    sup = (spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == nat.n_nationkey)
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    rc = (F.floor(F.col("l_extendedprice")
                  * (F.lit(1.0) - F.col("l_discount"))
                  * 100.0 + F.lit(0.5)).cast("long"))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_suppkey",
                  F.year("l_shipdate").cast("long").alias("l_year"),
                  rc.alias("rc")))
    j = li.join(sup, li.l_suppkey == sup.s_suppkey)
    agg = j.groupBy("l_year").agg(
        F.sum(F.when(F.col("supp_nation") == nation, F.col("rc"))
              .otherwise(F.lit(0))).cast("long").alias("nation_rev_c"),
        F.sum("rc").cast("long").alias("total_rev_c"))
    return agg.select(
        "l_year", "nation_rev_c", "total_rev_c",
        F.floor(F.lit(1000000.0) * F.col("nation_rev_c")
                / F.col("total_rev_c")).cast("long").alias("share_x1e6"))


def tpch_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year): the
    five-way join tree — part(filtered) ⨝ lineitem ⨝ supplier ⨝
    nation ⨝ orders — that exercises Catalyst's join ordering. The
    driver's schema ships no partsupp/ps_supplycost, so profit is the
    discounted-revenue term only (documented adaptation; the join
    SHAPE is the point). part is filtered BEFORE the join (predicate
    pushed to its scan); nation is the only broadcast (25 fixed rows);
    part/supplier/orders attachments shuffle on their keys (SF-linear,
    never hinted). Per-row floored cents. Output: (nation, o_year,
    n_lines, profit_c)."""
    part = (spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
            .filter(F.col("p_name").contains("red"))
            .select("p_partkey"))
    nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    sup = (spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
           .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
           .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .select("o_orderkey",
                      F.year("o_orderdate").cast("long").alias("o_year")))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_orderkey", "l_partkey", "l_suppkey",
                  _cents(F.col("l_extendedprice")
                         * (F.lit(1.0) - F.col("l_discount"))).alias("pc")))
    j = (li.join(part, li.l_partkey == part.p_partkey)
         .join(sup, li.l_suppkey == sup.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey))
    return (j.groupBy("nation", "o_year")
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum("pc").cast("long").alias("profit_c")))


def tpch_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue under an OR of predicate
    conjunctions): three (brand, size-range, quantity-range) arms OR-ed
    together — the disjunction that tests predicate pushdown through a
    join (each arm mixes part attrs with lineitem attrs, so only the
    per-side envelopes prune scans; the residual OR evaluates post-join,
    exactly as Catalyst plans it). part⨝lineitem shuffles on partkey
    (both SF-linear, no hints). Output: one row (n_lines, revenue_c)."""
    part = (spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
            .select("p_partkey", "p_brand", "p_size"))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_partkey", "l_quantity",
                  _cents(F.col("l_extendedprice")
                         * (F.lit(1.0) - F.col("l_discount"))).alias("rc")))
    j = li.join(part, li.l_partkey == part.p_partkey)
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1) & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi))
    cond = (arm("Brand#12", 5, 1, 11) | arm("Brand#21", 10, 10, 20)
            | arm("Brand#15", 15, 20, 30))
    return (j.filter(cond)
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum("rc").cast("long").alias("revenue_c")))


def tpch_waiting_suppliers(spark, sf_dir, k: int = 10):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS + NOT-EXISTS pair over the SAME fact table — for finished
    orders, count a supplier's late lines where at least one OTHER
    supplier fed the same order (LeftSemi with an inequality residual)
    and NO other supplier was late on it (LeftAnti, same condition
    shape on the late subset). The driver's schema ships no
    l_commitdate/l_receiptdate, so 'late' = shipped more than 60 days
    after the order date (documented adaptation; the semi/anti join
    pair is the point). Both probe sides are distinct (orderkey,
    suppkey) frames co-keyed on orderkey, so the two joins reuse one
    shuffle partitioning; top-k compiles to TakeOrderedAndProject with
    a full (numwait desc, s_name asc) tie-break. Output: (s_name,
    numwait)."""
    orders = (spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
              .filter(F.col("o_orderstatus") == "F")
              .select("o_orderkey", F.to_date("o_orderdate").alias("o_d")))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_orderkey", "l_suppkey",
                  F.to_date("l_shipdate").alias("l_d")))
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_d") > F.date_add(F.col("o_d"), 60))
            .select("l_orderkey", "l_suppkey"))
    late_pairs = late.distinct()
    p2 = pairs.select(F.col("l_orderkey").alias("p_ok"),
                      F.col("l_suppkey").alias("p_sk"))
    p3 = late_pairs.select(F.col("l_orderkey").alias("q_ok"),
                           F.col("l_suppkey").alias("q_sk"))
    l1 = (late
          .join(p2, (F.col("l_orderkey") == F.col("p_ok"))
                & (F.col("l_suppkey") != F.col("p_sk")), "left_semi")
          .join(p3, (F.col("l_orderkey") == F.col("q_ok"))
                & (F.col("l_suppkey") != F.col("q_sk")), "left_anti"))
    sup = (spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
           .select("s_suppkey", "s_name"))
    return (l1.join(sup, l1.l_suppkey == sup.s_suppkey)
            .groupBy("s_name")
            .agg(F.count("*").cast("long").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name").limit(k))


def tpch_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (supplier counts per part group, NOT-IN
    exclusion): distinct suppliers per (p_brand, p_type, p_size) for a
    size list, excluding one brand and excluding a supplier deny-set
    via LeftAnti (the NOT IN subquery form; the driver's schema ships
    no s_comment, so the deny-set is suppliers with negative acctbal —
    documented adaptation). The part filter pushes to its scan; the
    deny-set anti-join broadcasts (tiny); the distinct count is the one
    real shuffle on the group keys. Output: (p_brand, p_type, p_size,
    supplier_cnt)."""
    sizes = [1, 5, 9, 14, 19, 23, 36, 45]
    part = (spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
            .filter((F.col("p_brand") != "Brand#1")
                    & F.col("p_size").isin(sizes))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    deny = (spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
            .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    li = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
          .select("l_partkey", "l_suppkey"))
    j = (li.join(part, li.l_partkey == part.p_partkey)
         .join(deny, li.l_suppkey == deny.s_suppkey, "left_anti"))
    return (j.groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct("l_suppkey").cast("long")
                 .alias("supplier_cnt")))


def events_retention(spark, sf_dir):
    """Next-day user retention — the cohort-health rollup every event
    pipeline publishes: per day, distinct active users and the share
    also active the NEXT day. One distinct shuffle builds the (user,
    day) frame; the day-shifted copy re-joins on the SAME
    (user_id, day) key (co-partitioned equi-join — the date arithmetic
    moves to the build side so no inequality join ever appears);
    retention is a floor over two exact counts. Output:
    (day, n_active, n_retained, retention_x1e6)."""
    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .select("user_id", F.to_date("ts").alias("d")))
    daily = ev.distinct()
    nxt = daily.select("user_id", F.date_sub("d", 1).alias("d"),
                       F.lit(1).alias("r"))
    j = (daily.join(nxt, ["user_id", "d"], "left")
         .groupBy("d")
         .agg(F.count("*").cast("long").alias("n_active"),
              F.sum(F.coalesce(F.col("r"), F.lit(0))).cast("long")
              .alias("n_retained")))
    return j.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_active", "n_retained",
        F.floor(F.lit(1000000.0) * F.col("n_retained")
                / F.col("n_active")).cast("long")
        .alias("retention_x1e6"))


def conversation_quality_trend(spark, sf_dir):
    """Per-conversation extraction-yield trend: the least-squares slope
    of chars_out over turn_idx — the drift signal that flags
    conversations whose payloads degrade (or spike) over time. The
    slope is decomposed into regression AGGREGATES (n, Σx, Σy, Σxy,
    Σx²), all exact bigints under one conv_id shuffle with map-side
    partials — numerator n·Σxy−Σx·Σy and denominator n·Σx²−(Σx)² are
    integer-exact, and only the final x1e6 ratio divides. Conversations
    with a single turn carry no trend and are excluded (den = 0).
    Output: (conv_id, n_turns, num, den, slope_x1e6)."""
    ext = _extracted(spark, sf_dir).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("x"),
        F.col("chars_out").cast("long").alias("y"))
    a = ext.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    num = a.n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = a.n * F.col("sxx") - F.col("sx") * F.col("sx")
    return (a.select("conv_id", F.col("n").alias("n_turns"),
                     num.cast("long").alias("num"),
                     den.cast("long").alias("den"))
            .filter(F.col("den") > 0)
            .withColumn("slope_x1e6",
                        F.floor(F.lit(1000000.0) * F.col("num")
                                / F.col("den")).cast("long")))


def dedup_fingerprint_pairs(spark, sf_dir, df_cap: int = 50,
                            min_shared: int = 25):
    """MOSS-style near-dup candidate pairs from shared winnowing
    fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 §4 — the
    plagiarism-detection layout): docs sharing ≥ min_shared selected
    fingerprints. The inverted-index join shape of dedup_ngram_jaccard
    reused at the FINGERPRINT level — winnowing already compressed each
    doc to ~n/(w) hashes, so the exploded index is a fraction of the
    shingle stream's size; the document-frequency cap (df_cap, FROM THE
    INDEX ONLY — the standard hot-key guard) bounds the per-key join
    fan-out; one fp-key shuffle, one pair rollup, never a cartesian.
    Output: (doc_a, doc_b, n_shared_fp)."""
    from .operators.fingerprint import fingerprint_set_udf

    docs = _docs(spark, sf_dir)
    fps = tracked_cache(docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(fingerprint_set_udf(F.col("text"))).alias("f")))
    cap = (fps.groupBy("f").agg(F.count("*").alias("df"))
           .filter(F.col("df") <= df_cap).select("f"))
    idx = fps.join(cap, "f")
    a = idx.select(F.col("doc_id").alias("doc_a"), "f")
    b = idx.select(F.col("doc_id").alias("doc_b"), "f")
    return (a.join(b, "f")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").cast("long").alias("n_shared_fp"))
            .filter(F.col("n_shared_fp") >= min_shared))


def doc_char_entropy(spark, sf_dir):
    """Per-document character-entropy quality signal — the
    compressibility proxy curation stacks use beside Gopher gates
    (near-zero entropy = template/repeat junk, near-uniform = random
    noise; both tails get cut). H = ln n − (Σ c·ln c)/n over the
    per-doc char histogram, computed entirely in JVM HOFs (array of
    chars → distinct → per-type count via filter — O(distinct·n) per
    doc, bounded by charset size; map-only, zero shuffle, no Python).
    Each c·ln c term floors on the 1e6 grid per TYPE (the proven
    corpus_token_entropy convention) so the per-doc sum and the final
    integer division are dialect-exact. '.' skips newlines in both
    regex engines — n counts non-newline chars, same both sides.
    Output: (doc_id, n_chars, sum_clogc_x1e6, entropy_x1e6)."""
    cs = F.regexp_extract_all(F.col("text"), F.lit(r"."), 0)

    def cnt(c):
        return F.size(F.filter(cs, lambda x: x == c))

    terms = F.transform(
        F.array_distinct(cs),
        lambda c: F.floor(F.lit(1000000.0) * cnt(c) * F.log(cnt(c)))
        .cast("long"))
    base = (_docs(spark, sf_dir)
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.size(cs).cast("long").alias("n_chars"),
                    F.aggregate(terms, F.lit(0).cast("long"),
                                lambda a, x: a + x)
                    .alias("sum_clogc_x1e6"))
            .filter(F.col("n_chars") > 0))
    return base.select(
        "doc_id", "n_chars", "sum_clogc_x1e6",
        (F.floor(F.lit(1000000.0) * F.log("n_chars")).cast("long")
         - F.expr("sum_clogc_x1e6 div n_chars")).cast("long")
        .alias("entropy_x1e6"))


def events_trailing_value(spark, sf_dir):
    """Trailing 3-day value/volume per event type — the RANGE-frame
    window shape (frame bounded by the ORDER-BY VALUE, not row
    position: days with no events leave genuine holes that a
    rows-frame would silently bridge). The raw stream first compacts
    to (type, day) — the window then runs over a frame that is tiny by
    construction (types × days), so the sort behind it is never a
    corpus sort; one shuffle total. Integer cents end to end. Output:
    (event_type, d, day_value_c, t3_value_c, t3_events)."""
    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .select("event_type",
                  F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                  .cast("long").alias("d"),
                  F.floor(F.col("value") * 100.0 + F.lit(0.5))
                  .cast("long").alias("vc")))
    daily = ev.groupBy("event_type", "d").agg(
        F.sum("vc").cast("long").alias("day_value_c"),
        F.count("*").cast("long").alias("n_events"))
    w = (Window.partitionBy("event_type").orderBy("d")
         .rangeBetween(-2, 0))
    return daily.select(
        "event_type", "d", "day_value_c",
        F.sum("day_value_c").over(w).cast("long").alias("t3_value_c"),
        F.sum("n_events").over(w).cast("long").alias("t3_events"))


def events_funnel(spark, sf_dir, cutoff: str = "2024-01-02"):
    """Sequential conversion funnel view → click → purchase inside the
    first-day window (the full table converts everyone — the window is
    what makes ordering bite: 134/56/19/3 at sf0.01). Stage timestamps
    chain by STRICT event-time order, not mere presence: each stage is
    a user-key EQUI-join of the event stream with the previous stage's
    per-user min timestamp, the ordering constraint applied as a
    residual filter after the join — never an inequality-driven
    nested-loop join. Per-user state is one timestamp per stage; three
    user-key shuffles total, all over the already-filtered window.
    Output: (n_users, n_view, n_view_click, n_full_funnel) — one row."""
    ev = (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
          .filter(F.col("ts") < cutoff)
          .select("user_id", "event_type", "ts"))
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("v"))
    c = (ev.filter(F.col("event_type") == "click")
         .join(u.filter(F.col("v").isNotNull()), "user_id")
         .filter(F.col("ts") > F.col("v"))
         .groupBy("user_id").agg(F.min("ts").alias("c")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("c"))
         .groupBy("user_id").agg(F.min("ts").alias("p")))
    j = (u.join(c.select("user_id", F.lit(1).alias("has_c")),
                "user_id", "left")
         .join(p.select("user_id", F.lit(1).alias("has_p")),
               "user_id", "left"))
    return j.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.col("v").isNotNull().cast("long")).cast("long")
        .alias("n_view"),
        F.sum(F.coalesce(F.col("has_c"), F.lit(0))).cast("long")
        .alias("n_view_click"),
        F.sum(F.coalesce(F.col("has_p"), F.lit(0))).cast("long")
        .alias("n_full_funnel"))
