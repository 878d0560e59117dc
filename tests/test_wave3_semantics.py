"""Semantic pins for wave-3 operators whose certification is otherwise
oracle-only: the BPE merge-application overlap rule, BPE encoding
against a pure-Python reference, the pair-counting within-word
multiplicity, and the entropy identities."""

import collections
import math
import re

from pyspark.sql import functions as F


def test_bpe_merge_application_is_nonoverlapping(spark):
    """'a a a' with merge 'a a' must become 'aa a' (greedy left-to-right
    non-overlap — BPE's application rule), not 'aa aa' or 'a aa'."""
    df = spark.createDataFrame([("a a a",)], "sw string")
    out = df.select(F.expr("replace(sw, 'a a', 'aa')").alias("m")).first()
    assert out["m"] == "aa a"


def _sennrich_encode(texts, n_merges, apply):
    """BPE after Sennrich et al. 2016: learn `n_merges` merges, each the
    most frequent adjacent symbol pair (ties: least pair string), and
    apply each to every word type with `apply(symbols, a, b)`. Returns
    (n_words, n_bpe_tokens) per text that has a word."""
    words = [re.findall(r"\w+", t.lower()) for t in texts]
    vocab = collections.Counter(w for ws in words for w in ws)
    syms = {w: list(w) for w in vocab}
    for _ in range(n_merges):
        pairs = collections.Counter()
        for w, n in vocab.items():
            for a, b in zip(syms[w], syms[w][1:]):
                pairs[f"{a} {b}"] += n
        a, b = min(pairs, key=lambda p: (-pairs[p], p)).split(" ")
        syms = {w: apply(s, a, b) for w, s in syms.items()}
    return sorted((i, len(ws), sum(len(syms[w]) for w in ws))
                  for i, ws in enumerate(words) if ws)


def _merge_symbols(s, a, b):
    """Merge each adjacent (a, b) symbol pair, greedy left to right."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and (s[i], s[i + 1]) == (a, b):
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def _merge_raw(s, a, b):
    """The old rule: raw replace on the space-joined symbols."""
    return " ".join(s).replace(f"{a} {b}", a + b).split(" ")


def test_bpe_encode_matches_sennrich_reference(spark, tmp_path):
    """Learned merges are 't h', 'th o', 'h e': 'the' must encode as
    'th e' (a raw replace of 'h e' on 'th e' gives 'the') and 'hehe' as
    'he he'. Both engines must equal the reference."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from ocr_image_to_text_spark import queries as q

    texts = ["Tho tho tho tho tho the", "tho tho tho tho tho he he he",
             "hehe hehe", "..."]
    want = _sennrich_encode(texts, 3, _merge_symbols)
    assert want != _sennrich_encode(texts, 3, _merge_raw)
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts,
        "lang": ["en"] * len(texts), "source": ["s"] * len(texts)}), path)
    got = sorted(tuple(r) for r in q.corpus_bpe_encode(spark, str(tmp_path))
                 .select("doc_id", "n_words", "n_bpe_tokens").collect())
    assert got == want
    con = duckdb.connect()
    con.sql(f"create view documents as select * from read_parquet('{path}')")
    rows = con.sql("select doc_id, n_words, n_bpe_tokens from ("
                   + entrymod.oracle_sql()["corpus_bpe_encode"] + ")")
    assert sorted(rows.fetchall()) == want


def test_bpe_pairs_count_within_word_multiplicity(spark):
    """'aaa' contributes the pair 'aa' TWICE per occurrence (positions
    1-2 and 2-3), weighted by the word-type count."""
    from ocr_image_to_text_spark import queries as q

    df = spark.createDataFrame([(0, "aaa aaa xy")], "doc_id long, text string")
    wt = (df.select(F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"\w+"), 0)).alias("w"))
          .groupBy("w").agg(F.count("*").alias("n")))
    pairs = (wt.filter(F.length("w") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(1, length(w) - 1),"
                 " i -> substring(w, i, 2))")).alias("pair"), "n")
             .groupBy("pair").agg(F.sum("n").alias("c")))
    got = {r["pair"]: r["c"] for r in pairs.collect()}
    assert got["aa"] == 4   # 2 positions x word count 2
    assert got["xy"] == 1


def test_char_entropy_identities(spark):
    """Uniform string of k distinct chars → H = ln k; constant string
    → H = 0 (both on the floored 1e6 grid)."""
    from ocr_image_to_text_spark.queries import doc_char_entropy

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "documents.parquet")
        spark.createDataFrame(
            [(0, "abcd", "s", "en"), (1, "aaaa", "s", "en")],
            "doc_id long, text string, source string, lang string"
        ).write.parquet(p)
        rows = {r["doc_id"]: r for r in doc_char_entropy(spark, d).collect()}
    # uniform: ln 4 ≈ 1.386294 → per-type terms are 1*ln(1)=0, so
    # entropy = floor(1e6*ln 4)
    assert rows[0]["entropy_x1e6"] == math.floor(1e6 * math.log(4))
    # constant: ln 4 - (4 ln 4)/4 = 0 on the integer grid (floors cancel
    # within 1 micro-unit)
    assert 0 <= rows[1]["entropy_x1e6"] <= 1
