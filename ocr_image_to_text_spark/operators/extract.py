"""Per-turn extraction operators: kind dispatch + one fused pandas UDF.

The pipeline (SURVEY.md §3.1 Spark restatement)::

    read.table(transcripts)
      → classify kind (JVM-side exprs: rlike/contains — no Python)
      → ONE fused Arrow-batched dispatch UDF
        (boxes: F1 conf filter + A2/A3 clustering + A1/A4 assembly;
         html: DOM block collect + density scoring + X1 clean;
         plain: X1 clean via Python `re` — oracle-exact)
      → rollup metrics + span starts → spans via posexplode

Two structural choices measured on the bench tier:

* one dispatch UDF instead of a per-kind branch + unionByName — the
  branch plan deserialized every row once per branch (3 shuffle reads,
  3 Python stages): ~3-4x wall at local[32];
* the UDF computes the span offsets (SURVEY §2.5 W4) itself: one O(len)
  Python walk over extracted_text.split('\\n') per turn, emitted as an
  int-only ``span_starts`` array beside the scalars. The line texts never
  cross the Arrow boundary — spans_table re-splits extracted_text
  JVM-side, and span_end is span_start + length(line). (The former
  JVM prefix sum was an interpreted aggregate/zip_with lambda fold whose
  array concat made it O(lines^2) per turn.)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .htmlx import clean_block, extract_html_one
from .layout import extract_boxes_json, layout_analysis_json

# flat_text (A5) and avg_conf_x1e9 (A9) ride along from the same JSON parse
# — one Arrow pass serves extract_rollup, extract_flat AND boxes_avg_conf
# via the session extraction cache (null for non-box kinds).
RESULT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("n_blocks_kept", IntegerType()),
        StructField("n_blocks_dropped", IntegerType()),
        StructField("table_flag", BooleanType()),
        StructField("flat_text", StringType()),
        StructField("avg_conf_x1e9", LongType()),
        StructField("span_starts", ArrayType(IntegerType())),
    ]
)


# Java-regex payload sniffers (JVM-side; semantics mirror pyref.classify_kind).
# Java's \s and \b are ASCII by default while Python's are Unicode — a
# payload like '<\xa0p>' classified differently until the fuzz seam test
# (tests/test_fuzz_seams.py) caught it. PY_WS is the exact character set
# Python's str.isspace()/re \s matches; (?iU) makes Java's \b
# Unicode-word-aware like Python's.
PY_WS = (
    " \\t\\n\\x0B\\f\\r\\x1C-\\x1F\\x85\\xA0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000"
)
HTML_SNIFF_JAVA = (
    rf"(?iU)<[{PY_WS}]*(?:!doctype|html|body|div|p|br|h[1-6]|ul|ol|li|table|nav|footer|"
    r"header|span|a|script|style|section|article|main)\b"
)
BOXES_SNIFF_JAVA = rf"^[{PY_WS}]*\{{"


def span_starts_of(text: str) -> list[int]:
    """W4 — start offset of each '\\n'-delimited line of ``text``
    (pyref.spans_of semantics: empty text → no spans, trailing empty
    lines kept). Offsets count code points, as Spark's length() does."""
    if not text:
        return []
    starts, pos = [], 0
    for line in text.split("\n"):
        starts.append(pos)
        pos += len(line) + 1
    return starts


def make_dispatch_udf(variant: str = "v2"):
    """ONE fused extractor for all payload kinds (see module docstring)."""

    @pandas_udf(RESULT_SCHEMA)
    def extract_dispatch_udf(kind: pd.Series, text: pd.Series,
                             tool: pd.Series) -> pd.DataFrame:
        rows = []
        for k, t, o in zip(kind.to_numpy(), text.to_numpy(), tool.to_numpy()):
            if k == "boxes":
                row = extract_boxes_json(o, variant)
            elif k == "html":
                row = (*extract_html_one(t or ""), False, None, None)
            else:
                clean = clean_block(t or "")  # X1, Python `re`
                row = (clean, 1 if clean else 0, 0, False, None, None)
            rows.append((*row, span_starts_of(row[0])))
        return pd.DataFrame(rows, columns=RESULT_SCHEMA.names)

    return extract_dispatch_udf


# Precision-layout structure summary (the layout_analysis shape
# test_precision_layout.py:154-165 consumes) — its own Arrow pass over
# boxes payloads only: the flagship dispatch UDF stays untouched (the
# summary is not on the extraction hot path), and only six ints cross
# the Arrow boundary back.
LAYOUT_ANALYSIS_SCHEMA = StructType([
    StructField("total_elements", IntegerType()),
    StructField("line_groups", IntegerType()),
    StructField("n_columns", IntegerType()),
    StructField("n_titles", IntegerType()),
    StructField("n_bullets", IntegerType()),
    StructField("n_numbered", IntegerType()),
])


def make_layout_analysis_udf():
    @pandas_udf(LAYOUT_ANALYSIS_SCHEMA)
    def layout_analysis_udf(tool: pd.Series) -> pd.DataFrame:
        rows = [layout_analysis_json(o) for o in tool.to_numpy()]
        return pd.DataFrame(rows, columns=[
            "total_elements", "line_groups", "n_columns",
            "n_titles", "n_bullets", "n_numbered"])

    return layout_analysis_udf


def kind_col(text: Column = None, tool: Column = None) -> Column:
    """Payload-kind classifier — pure JVM expressions (F5 analog)."""
    text = F.col("text") if text is None else text
    tool = F.col("tool") if tool is None else tool
    return (
        F.when(
            (tool.isNotNull())
            & (tool != "")
            & tool.rlike(BOXES_SNIFF_JAVA)
            & tool.contains('"boxes"'),
            F.lit("boxes"),
        )
        .when(text.isNotNull() & text.rlike(HTML_SNIFF_JAVA), F.lit("html"))
        .otherwise(F.lit("plain"))
    )


def extract_turns(
    df: DataFrame,
    variant: str = "v2",
    partitions: int | None = None,
    extras: bool = False,
) -> DataFrame:
    """Per-turn extraction rollup.

    Output: (conv_id, turn_idx, kind, extracted_text, n_blocks_kept,
    n_blocks_dropped, table_flag, chars_in, chars_out, span_starts)
    [+ flat_text, avg_conf_x1e9 when extras=True — the A5/A9 box products
    the dispatch UDF computes from the same parse]. ``span_starts`` is the
    int-only input of spans_table.

    Turns are independent, so the pre-UDF repartition salts by
    (conv_id, turn_idx) — a 10^6-turn conversation spreads over all tasks
    (north_rule skew requirement); conversation order is restored only at
    write/rollup time.
    """
    base = df.select("conv_id", "turn_idx", "text", "tool").withColumn(
        "kind", kind_col()
    )
    if partitions:
        base = base.repartition(partitions, F.xxhash64("conv_id", "turn_idx"))

    dispatch = make_dispatch_udf(variant)
    out = base.withColumn(
        "r", dispatch(F.col("kind"), F.col("text"), F.col("tool")))
    cols = [
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("kind"),
        F.col("r.extracted_text").alias("extracted_text"),
        F.col("r.n_blocks_kept").alias("n_blocks_kept"),
        F.col("r.n_blocks_dropped").alias("n_blocks_dropped"),
        F.col("r.table_flag").alias("table_flag"),
        (F.length(F.coalesce(F.col("text"), F.lit(""))) +
         F.length(F.coalesce(F.col("tool"), F.lit("")))).alias("chars_in"),
        F.length(F.col("r.extracted_text")).alias("chars_out"),
        F.col("r.span_starts").alias("span_starts"),
    ]
    if extras:
        cols += [F.col("r.flat_text").alias("flat_text"),
                 F.col("r.avg_conf_x1e9").alias("avg_conf_x1e9")]
    return out.select(*cols)


def spans_table(extracted: DataFrame) -> DataFrame:
    """Explode the per-turn spans into the north_star spans schema:
    (conv_id, turn_idx, span_idx, span_start, span_end, text).

    Needs conv_id, turn_idx, extracted_text and span_starts. The lines
    are re-split JVM-side; slicing them to size(span_starts) drops the
    single '' that split() returns for empty text (which has no spans).
    """
    lines = F.split(F.col("extracted_text"), "\n", -1)
    z = F.arrays_zip(
        F.col("span_starts").alias("span_start"),
        F.slice(lines, 1, F.size("span_starts")).alias("text"),
    )
    return extracted.select(
        "conv_id",
        "turn_idx",
        F.posexplode(z).alias("span_idx", "s"),
    ).select(
        "conv_id",
        "turn_idx",
        "span_idx",
        F.col("s.span_start").alias("span_start"),
        (F.col("s.span_start") + F.length("s.text")).alias("span_end"),
        F.col("s.text").alias("text"),
    )
