"""Output check: the job's rollup and spans tables against the pure-Python
per-turn oracle (``pyref.extract_turn`` / ``pyref.spans_of``).

Runs outside every timed region and reads the job's parquet output with
pyarrow, so Spark plays no part in deciding what is correct.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from ocr_image_to_text_spark import pyref

ROLLUP_FIELDS = ("kind", "extracted_text", "n_blocks_kept", "n_blocks_dropped",
                 "chars_in", "chars_out", "table_flag")


def oracle(rows: list[dict]) -> dict:
    """(conv_id, turn_idx) -> expected rollup record plus its spans."""
    by_payload: dict[tuple[str, str], dict] = {}
    out = {}
    for r in rows:
        payload = (r["text"], r["tool"])
        if payload not in by_payload:
            by_payload[payload] = pyref.extract_turn(*payload)
        out[(r["conv_id"], r["turn_idx"])] = by_payload[payload]
    return out


def mismatched_turns(expected: dict, out_dir: str) -> int:
    """Number of turns whose rollup row or spans differ from the oracle,
    counting missing and unexpected turns."""
    cols = ["conv_id", "turn_idx", *ROLLUP_FIELDS]
    rollup = pq.read_table(os.path.join(out_dir, "rollup"), columns=cols).to_pylist()
    spans: dict[tuple, list] = {}
    for s in pq.read_table(os.path.join(out_dir, "spans"),
                           columns=["conv_id", "turn_idx", "span_idx", "span_start",
                                    "span_end", "text"]).to_pylist():
        spans.setdefault((s["conv_id"], s["turn_idx"]), []).append(s)
    seen = set()
    bad = 0
    for row in rollup:
        key = (row["conv_id"], row["turn_idx"])
        exp = expected.get(key)
        if exp is None or key in seen:
            bad += 1
            continue
        seen.add(key)
        got_spans = [(s["span_start"], s["span_end"], s["text"])
                     for s in sorted(spans.get(key, ()), key=lambda s: s["span_idx"])]
        if (any(row[f] != exp[f] for f in ROLLUP_FIELDS)
                or got_spans != [tuple(s) for s in exp["spans"]]):
            bad += 1
    return bad + len(expected) - len(seen)
