"""Seeded benchmark inputs: transcript workloads and the small query corpus.

Both job workloads reuse the conversation shape of the bench tier in
``ocr_image_to_text_spark.transcripts`` (geometric conversation lengths,
kinds boxes:html:plain = 4:3:3, a few long boxes-only conversations for
skew). ``transcripts.TIERS`` is left untouched: the inputs are written
to the benchmark's own work directory.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_image_to_text_spark import transcripts as T
from ocr_image_to_text_spark.operators.layout import SMALL_N

# Every seed gives the same number of turns, so that the job's mostly
# fixed cost is divided by the same count.
# job-mixed: 6,700 turns, of which two 1,200-turn boxes conversations.
MIXED_TURNS, MIXED_SKEW_CONVS, MIXED_SKEW_LEN = 4300, 2, 1200
# A long conversation's pages are drawn from a pool of this many distinct
# payloads: the engine caches nothing across turns, so its cost is that of
# distinct pages, while the generator and oracle stay cheap.
SKEW_POOL = 250
DENSE_PAGE_SHARE = 0.10   # boxes pages with >= SMALL_N kept tokens
CHARREF_SHARE = 0.15      # html payloads carrying &amp; / &nbsp;
# job-chat: 20,700 short plain messages, sized for a job CPU time close to
# job-mixed's.
CHAT_TURNS, CHAT_SKEW_CONVS, CHAT_SKEW_LEN = 17700, 2, 1500

CHAT_ENDINGS = ["", "", "?", "!", ".", " thanks", " :)"]


def _dense_boxes_payload(rng: random.Random) -> str:
    """A full scanned page: 18-26 lines of 5-7 tokens (90-182 boxes), so
    the conf-filtered token count reaches the vectorized layout path."""
    boxes = []
    y = 30.0
    for _ in range(rng.randint(18, 26)):
        x = 40.0
        for _ in range(rng.randint(5, 7)):
            tok = rng.choice(T.WORDS)
            w = 9.0 * len(tok)
            conf = rng.choice([0.05, 0.31] + [round(rng.uniform(0.5, 0.99), 2)] * 10)
            box = T._box(x, round(y + rng.uniform(-2.0, 2.0), 1), w, 16.0)
            boxes.append([box, tok, conf])
            x = round(x + w + rng.uniform(8.0, 20.0), 1)
        y = round(y + rng.uniform(22.0, 30.0), 1)
    rng.shuffle(boxes)
    return json.dumps({"h": 1200, "w": 800, "boxes": boxes})


def _charref_html_payload(rng: random.Random) -> str:
    """A bench-tier page whose prose carries character references, which
    the guarded fast scanner refuses (stdlib HTMLParser fallback)."""
    ref = rng.choice(["&amp;", "&nbsp;", "&amp; more&nbsp;"])
    return T._html_payload(rng).replace(" tail ", f" tail {ref} ", 1)


def _chat_message(rng: random.Random) -> str:
    return T._sentence(rng, rng.randint(3, 14)) + rng.choice(CHAT_ENDINGS)


def _mixed_payload(rng: random.Random, kind: str) -> tuple[str, str]:
    """(text, tool) for one job-mixed turn of the given kind."""
    if kind == "boxes":
        if rng.random() < DENSE_PAGE_SHARE:
            return "", _dense_boxes_payload(rng)
        return "", T._boxes_payload(rng)
    if kind == "html":
        if rng.random() < CHARREF_SHARE:
            return _charref_html_payload(rng), ""
        return T._html_payload(rng), ""
    return T._plain_payload(rng), ""


def generate(workload: str, seed: int) -> list[dict]:
    """Transcript rows (the ``transcripts`` schema) for a workload."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "job-mixed":
        n_turns, n_skew, skew_len = MIXED_TURNS, MIXED_SKEW_CONVS, MIXED_SKEW_LEN

        def payload(kind):
            return _mixed_payload(rng, kind)
    elif workload == "job-chat":
        n_turns, n_skew, skew_len = CHAT_TURNS, CHAT_SKEW_CONVS, CHAT_SKEW_LEN

        def payload(kind):
            return _chat_message(rng), ""
    else:
        raise ValueError(f"unknown workload {workload!r}")

    convs = []
    while n_turns > 0:
        conv_len = min(2 + int(rng.expovariate(0.35)), 40, n_turns)
        convs.append([payload(rng.choices(["boxes", "html", "plain"], weights=[4, 3, 3])[0])
                      for _ in range(conv_len)])
        n_turns -= conv_len
    pool = [payload("boxes") for _ in range(SKEW_POOL)]
    convs += [[rng.choice(pool) for _ in range(skew_len)] for _ in range(n_skew)]
    rows = []
    for conv_no, turns in enumerate(convs):
        base_ts = T.EPOCH + dt.timedelta(seconds=conv_no * 3600)
        for turn_idx, (text, tool) in enumerate(turns):
            rows.append({
                "conv_id": f"conv-{conv_no:06d}",
                "turn_idx": turn_idx,
                "role": T.ROLES[turn_idx % 3],
                "text": text,
                "tool": tool,
                "ts": base_ts + dt.timedelta(seconds=turn_idx),
            })
    return rows


def write_parquet(rows: list[dict], path: str) -> None:
    """Same file layout as transcripts.ensure_transcripts (4096-row groups)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {name: [r[name] for r in rows] for name in T.SCHEMA.names}
    table = pa.Table.from_pydict(cols, schema=T.SCHEMA)
    pq.write_table(table, path, compression="zstd", row_group_size=4096)


def write_corpus(sf_dir: str, seed: int, n_docs: int = 300) -> None:
    """documents / embeddings / events for the 15 headline queries, in the
    shape and ratios of the sf0.1 tables (tools/gen_sf1_corpus.py), at
    3/50 of sf0.1 and seeded by ``seed``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        import gen_sf1_corpus as G
    finally:
        sys.path.pop(0)
    G.SEED = seed
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(G.gen_documents(n_docs), os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(G.gen_embeddings(n_docs * 2 // 5),
                   os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(G.gen_events(n_docs * 20), os.path.join(sf_dir, "events.parquet"))


def _pct(values: list, q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[min(len(s) - 1, int(q * len(s)))])


def traffic(rows: list[dict], expected: list[dict], fast_accepted: int) -> dict:
    """What the generator actually produced, with kinds and token counts
    from the oracle records (``expected``, in row order)."""
    kinds = [e["kind"] for e in expected]
    by_kind = {k: kinds.count(k) for k in ("boxes", "html", "plain")}
    chars = [len(r["text"]) + len(r["tool"]) for r in rows]
    kept_tokens, all_tokens = [], []
    html_refs = 0
    for r, e in zip(rows, expected):
        if e["kind"] == "boxes":
            kept_tokens.append(e["n_blocks_kept"])
            all_tokens.append(e["n_blocks_kept"] + e["n_blocks_dropped"])
        elif e["kind"] == "html" and "&" in r["text"]:
            html_refs += 1
    conv_sizes: dict[str, int] = {}
    for r in rows:
        conv_sizes[r["conv_id"]] = conv_sizes.get(r["conv_id"], 0) + 1
    n_html = by_kind["html"]
    return {
        "turns": len(rows),
        "turns_per_kind": by_kind,
        "payload_chars_p50": _pct(chars, 0.50),
        "payload_chars_p99": _pct(chars, 0.99),
        "boxes_tokens_p50": _pct(all_tokens, 0.50),
        "boxes_tokens_p99": _pct(all_tokens, 0.99),
        "boxes_kept_ge_small_n_share": (
            sum(1 for n in kept_tokens if n >= SMALL_N) / len(kept_tokens)
            if kept_tokens else 0.0),
        "html_charref_share": html_refs / n_html if n_html else 0.0,
        "htmlx_fast_path_ratio": fast_accepted / n_html if n_html else 0.0,
        "largest_conv_share": max(conv_sizes.values()) / len(rows),
    }
