"""Full-pipeline equality: Spark extraction vs the pure-Python golden on t1.

This is the north_rule contract — per-turn text equality (byte-for-byte)
under stable (conv_id, turn_idx) ordering, plus span-coverage invariants.
"""

import duckdb
from pyspark.sql import functions as F

from ocr_image_to_text_spark.operators.extract import extract_turns, spans_table


def _golden_rows(path, order="conv_id, turn_idx"):
    con = duckdb.connect()
    rel = con.sql(f"select * from '{path}' order by {order}")
    cols = [d[0] for d in rel.description]
    return [dict(zip(cols, r)) for r in rel.fetchall()]


def test_rollup_matches_golden(spark, t1_paths):
    df = spark.read.parquet(t1_paths["transcripts"])
    ext = extract_turns(df, partitions=8).orderBy("conv_id", "turn_idx")
    got = ext.collect()
    want = _golden_rows(t1_paths["extract"])
    assert len(got) == len(want)
    for o, g in zip(got, want):
        for f in ("conv_id", "turn_idx", "kind", "extracted_text",
                  "n_blocks_kept", "n_blocks_dropped", "chars_in", "chars_out",
                  "table_flag"):
            assert o[f] == g[f], (g["conv_id"], g["turn_idx"], f)


def test_spans_match_golden_and_cover(spark, t1_paths):
    df = spark.read.parquet(t1_paths["transcripts"])
    ext = extract_turns(df, partitions=8)
    sp = spans_table(ext).orderBy("conv_id", "turn_idx", "span_idx").collect()
    want = _golden_rows(t1_paths["spans"], order="conv_id, turn_idx, span_idx")
    assert len(sp) == len(want)
    text_by_turn = {(r["conv_id"], r["turn_idx"]): r["extracted_text"]
                    for r in ext.collect()}
    for o, g in zip(sp, want):
        assert (o["conv_id"], o["turn_idx"], o["span_idx"]) == \
               (g["conv_id"], g["turn_idx"], g["span_idx"])
        assert (o["span_start"], o["span_end"], o["text"]) == \
               (g["span_start"], g["span_end"], g["text"])
        full = text_by_turn[(o["conv_id"], o["turn_idx"])]
        assert full[o["span_start"]:o["span_end"]] == o["text"]


def test_variant_queries_match_golden(spark, t1_paths):
    df = spark.read.parquet(t1_paths["transcripts"])
    for variant, key in (("v1", "boxes_v1"), ("v3", "boxes_v3")):
        ext = (extract_turns(df, variant=variant, partitions=8)
               .filter(F.col("kind") == "boxes")
               .select("conv_id", "turn_idx", "extracted_text")
               .orderBy("conv_id", "turn_idx"))
        got = ext.collect()
        want = _golden_rows(t1_paths[key])
        assert len(got) == len(want)
        for o, g in zip(got, want):
            assert o["extracted_text"] == g["extracted_text"], (variant, g["conv_id"], g["turn_idx"])


def test_kind_classifier_matches_oracle(spark, t1_paths):
    from ocr_image_to_text_spark import pyref
    from ocr_image_to_text_spark.operators.extract import kind_col

    df = spark.read.parquet(t1_paths["transcripts"])
    got = df.select("conv_id", "turn_idx", "text", "tool",
                    kind_col().alias("kind")).collect()
    for r in got:
        assert r["kind"] == pyref.classify_kind(r["text"], r["tool"])


# Edge texts for the span offsets: each is the text of a single box, so
# the boxes kernel passes it through to extracted_text verbatim.
SPAN_EDGE_TEXTS = {
    "empty": "",
    "lone_newline": "\n",
    "trailing_newline": "first\nsecond\n",
    "crlf": "first\r\nsecond\r\n",
    "astral": "a\U0001F600b\n\U0001F600\U0001F600c",  # one code point each
    "line_separator": "a\u2028b\nc\u2028",  # split on '\n' only
    "20k_lines": "\n".join(f"line {i}" for i in range(20_000)),
}


def test_spans_edge_texts_match_oracle(spark):
    import json
    from collections import defaultdict

    from ocr_image_to_text_spark import pyref

    names = list(SPAN_EDGE_TEXTS)
    box = [[0, 0], [10, 0], [10, 10], [0, 10]]
    rows = [("edge", i, None,
             json.dumps({"boxes": [[box, SPAN_EDGE_TEXTS[n], 0.9]], "h": 100}))
            for i, n in enumerate(names)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, tool string")
    ext = extract_turns(df, partitions=2).persist()
    try:
        texts = {r.turn_idx: r.extracted_text for r in ext.collect()}
        spans = defaultdict(list)
        for r in spans_table(ext).orderBy("turn_idx", "span_idx").collect():
            spans[r.turn_idx].append((r.span_start, r.span_end, r.text))
    finally:
        ext.unpersist()
    for i, name in enumerate(names):
        text = SPAN_EDGE_TEXTS[name]
        assert texts[i] == text, name  # the edge really reaches the spans
        assert spans[i] == pyref.spans_of(text), name
