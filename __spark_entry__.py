"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline ops) to a (spark, sf_dir) → DataFrame callable;
``oracle_sql()`` provides the DuckDB-equivalent SQL.

Oracle strategy (two kinds):
  * Analytics over documents/embeddings/events: REAL DuckDB SQL that
    restates the operator independently (regex/list/window functions).
  * Extraction-pipeline queries: the oracle is the pure-Python restatement
    of the reference semantics (ocr_image_to_text_spark.pyref — cited,
    Spark-free), materialized deterministically to parquet by golden.py;
    the SQL reads that parquet. Sequential layout scans, HTML parsing and
    Python-`re` cleaning are not faithfully expressible in ANSI SQL, so a
    two-implementation equality check (pandas-UDF engine vs pure
    Python) is the strongest available oracle there.

Column-name/type contract: every computed column is aliased identically on
both sides; integral outputs are BIGINT on both sides (or int32 where the
golden parquet pins int32); doubles are avoided (scaled to ints with an
explicit floor(x + 0.5), never dialect-dependent casts/rounds).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
_GOLD = os.path.join(_REPO, "warehouse", "golden")


def _g(name: str, tier: str = "t2") -> str:
    """Golden parquet path for the driver's sf=0.01 correctness tier."""
    return os.path.join(_GOLD, f"{name}_{tier}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full per-turn extraction rollup on the t1 transcripts."""
    from ocr_image_to_text_spark import queries as q

    return q.extract_rollup(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_image_to_text_spark import queries as q

    # Dict order matters: each CORRECTNESS run certifies a budget-limited
    # PREFIX of this registry (r1: 40, r2: 46, r3-r5: 50;
    # tools/cert_ledger.py BUDGET=50). The r5 front block was (A) the 12
    # queries added or code-changed in r5, (B) the 31 queries VERDICT r4
    # lists as judge-verified but never certified by a CORRECTNESS run
    # (cheapest-first) and (C) 7 flagship re-certs; CORRECTNESS_r05
    # certified all 50, and they now follow the prefix in those blocks.
    # The current prefix, in order: (A) the 49 queries whose code drifted
    # since r5; (B) the oldest remaining certificate, which pushes the
    # next 25 just past the prefix.
    # tests/test_cert_ledger.py enforces that drifted/uncertified queries
    # sit inside this prefix.
    return {
        # --- (A) drifted since r5: every query that reaches extract_turns
        #     or spans_table (span offsets computed in the dispatch UDF) ---
        "chunk_cosine_topk": q.chunk_cosine_topk,
        "extract_rollup": q.extract_rollup,
        "extract_spans": q.extract_spans,
        "conversation_stitch": q.conversation_stitch,
        "chunks_modern": q.chunks_modern,
        "conversation_preview_t4": q.conversation_preview_t4,
        "extract_variant_agreement": q.extract_variant_agreement,
        "extract_boxes_xycut": q.extract_boxes_xycut,
        "conversation_quality_trend": q.conversation_quality_trend,
        "chunk_l2_topk": q.chunk_l2_topk,
        "extract_boxes_v1": q.extract_boxes_v1,
        "extract_boxes_v3": q.extract_boxes_v3,
        "extract_kind_metrics": q.extract_kind_metrics,
        "conversation_stitch_v1": q.conversation_stitch_v1,
        "conversation_dedup_seeded": q.conversation_dedup_seeded,
        "extract_flat": q.extract_flat,
        "boxes_table_flags": q.boxes_table_flags,
        "extract_similarity_x16": q.extract_similarity_x16,
        "boxes_avg_conf": q.boxes_avg_conf,
        "extract_metrics_cube": q.extract_metrics_cube,
        "extract_conv_quality": q.extract_conv_quality,
        #     ... plus the layout-analysis query (list-only layout
        #     kernels) and the three queries on dedup.connected_components
        #     (now star contraction only; dedup_clusters_star is an alias
        #     of dedup_clusters) ---
        "extract_layout_analysis": q.extract_layout_analysis,
        "dedup_clusters": q.dedup_clusters,
        "dedup_clusters_star": q.dedup_clusters,
        "dedup_apply_minhash": q.dedup_apply_minhash,
        #     ... plus the 11 ANN queries (one shared similarity.py helper
        #     per building block) and the two boilerplate strippers (one
        #     shared strip rule, queries._bp_kept_lines) ---
        "ann_cosine_topk": q.ann_cosine_topk,
        "emb_dup_pairs": q.emb_dup_pairs,
        "ann_lsh_topk": q.ann_lsh_topk,
        "ann_ivf_topk": q.ann_ivf_topk,
        "ann_ivf_lloyd_topk": q.ann_ivf_lloyd_topk,
        "ann_ivf_recall": q.ann_ivf_recall,
        "semdedup_prune": q.semdedup_prune,
        "emb_pq_encode": q.emb_pq_encode,
        "ann_pq_adc_topk": q.ann_pq_adc_topk,
        "ann_ivfpq_adc_topk": q.ann_ivfpq_adc_topk,
        "ann_ivfpq_residual_topk": q.ann_ivfpq_residual_topk,
        "doc_strip_boilerplate": q.doc_strip_boilerplate,
        "corpus_pipeline_v4": q.corpus_pipeline_v4,
        #     ... plus the 8 curation queries built from the shared
        #     curation stages (queries._exact_dedup, _bench_clean, _pack,
        #     _aes_cols, _dsir_weights) ---
        "corpus_dsir_weights": q.corpus_dsir_weights,
        "corpus_pack_sequences": q.corpus_pack_sequences,
        "corpus_curation_pipeline": q.corpus_curation_pipeline,
        "corpus_pipeline_v2": q.corpus_pipeline_v2,
        "corpus_pipeline_v3": q.corpus_pipeline_v3,
        "corpus_sample_weighted": q.corpus_sample_weighted,
        "corpus_sample_weighted_stratified": q.corpus_sample_weighted_stratified,
        "corpus_decontaminate_anti": q.corpus_decontaminate_anti,
        #     ... plus the BPE encoder (merges applied symbol-wise) ---
        "corpus_bpe_encode": q.corpus_bpe_encode,
        #     ... plus the image and audio features (decode or fail: a
        #     payload mmref rejects raises, no stub decode) ---
        "media_image_features": q.media_image_features,
        "media_audio_features": q.media_audio_features,
        # --- (B) the oldest remaining certificate: one of the r2 ones ---
        "events_hourly": q.events_hourly,
        # ---- end of the 50-entry certified prefix ----
        # --- (B) continued: the last r2 certificate and the r3 ones
        #     displaced by the drifted block, in registry order ---
        "events_sessions": q.events_sessions,
        "extract_angle_mode": q.extract_angle_mode,
        "doc_token_counts": q.doc_token_counts,
        "doc_fingerprints": q.doc_fingerprints,
        "doc_entities": q.doc_entities,
        "doc_quality_v2": q.doc_quality_v2,
        "doc_entities_seeded": q.doc_entities_seeded,
        "doc_redact": q.doc_redact,
        "doc_lang": q.doc_lang,
        "doc_lang_ngram": q.doc_lang_ngram,
        "doc_stats": q.doc_stats,
        "doc_quality_v1": q.doc_quality_v1,
        "doc_best_engine": q.doc_best_engine,
        "doc_engine_fallback": q.doc_engine_fallback,
        "doc_chunks_legacy": q.doc_chunks_legacy,
        "doc_keyword_score_x5": q.doc_keyword_score_x5,
        "doc_topk_keyword_x6": q.doc_topk_keyword_x6,
        "doc_sentences": q.doc_sentences,
        "doc_markdown": q.doc_markdown,
        "doc_html": q.doc_html,
        "qa_fallback_x15": q.qa_fallback_x15,
        "qa_answer_x14": q.qa_answer_x14,
        "rag_fallback_pipeline": q.rag_fallback_pipeline,
        "conversation_turn_latency": q.conversation_turn_latency,
        "doc_keyword_topk_x5": q.doc_keyword_topk_x5,
        # --- r5 (A): 12 added or code-changed in r5 (CORRECTNESS_r05);
        #     the 4 that drifted since lead the prefix ---
        "conversation_salted_join": q.conversation_salted_join,
        "dedup_simhash_pairs": q.dedup_simhash_pairs,
        "dedup_simhash_pairs_narrow": q.dedup_simhash_pairs_narrow,
        "tpch_profit_by_nation": q.tpch_profit_by_nation,
        "tpch_disjunctive_revenue": q.tpch_disjunctive_revenue,
        "tpch_waiting_suppliers": q.tpch_waiting_suppliers,
        "tpch_part_supplier_counts": q.tpch_part_supplier_counts,
        "tpch_cheapest_supplier": q.tpch_cheapest_supplier,
        # --- r5 (B): 31 judge-verified in VERDICT r4 (CORRECTNESS_r05);
        #     dedup_clusters, semdedup_prune and 5 curation queries drifted
        #     since and lead the prefix ---
        "doc_length_histogram": q.doc_length_histogram,
        "corpus_length_quantiles": q.corpus_length_quantiles,
        "corpus_sample_stratified": q.corpus_sample_stratified,
        "corpus_mix_budget": q.corpus_mix_budget,
        "corpus_top_tokens": q.corpus_top_tokens,
        "corpus_top_tokens_cms": q.corpus_top_tokens_cms,
        "corpus_vocab_hll": q.corpus_vocab_hll,
        "doc_tfidf_topk": q.doc_tfidf_topk,
        "doc_unigram_logprob": q.doc_unigram_logprob,
        "doc_bigram_logprob": q.doc_bigram_logprob,
        "doc_bm25_topk": q.doc_bm25_topk,
        "doc_quality_gopher": q.doc_quality_gopher,
        "doc_repetition_signals": q.doc_repetition_signals,
        "doc_c4_page_filter": q.doc_c4_page_filter,
        "doc_c4_page_filter_seeded": q.doc_c4_page_filter_seeded,
        "corpus_decontaminate": q.corpus_decontaminate,
        "corpus_decontaminate_bloom": q.corpus_decontaminate_bloom,
        "tpch_local_supplier_revenue": q.tpch_local_supplier_revenue,
        "tpch_promo_revenue": q.tpch_promo_revenue,
        "events_asof_join": q.events_asof_join,
        "media_video_frames": q.media_video_frames,
        "dedup_dup_spans": q.dedup_dup_spans,
        "dedup_c4_spans": q.dedup_c4_spans,
        # --- r5 (C): 7 flagship re-certs (CORRECTNESS_r05) ---
        "dedup_exact": q.dedup_exact,
        "dedup_minhash_lsh": q.dedup_minhash_lsh,
        "doc_simhash": q.doc_simhash,
        # --- r4-certified block (CORRECTNESS_r04, green) ---
        "tpch_top_supplier": q.tpch_top_supplier,
        "tpch_priority_returns": q.tpch_priority_returns,
        "tpch_quiet_big_accounts": q.tpch_quiet_big_accounts,
        "tpch_small_qty_revenue": q.tpch_small_qty_revenue,
        "tpch_forecast_revenue": q.tpch_forecast_revenue,
        "tpch_returned_items": q.tpch_returned_items,
        "tpch_custdist": q.tpch_custdist,
        "tpch_large_orders": q.tpch_large_orders,
        "doc_quality_deciles": q.doc_quality_deciles,
        "conversation_latency_quantiles": q.conversation_latency_quantiles,
        "conversation_role_transitions": q.conversation_role_transitions,
        "conversation_tool_stats": q.conversation_tool_stats,
        "turn_link_density": q.turn_link_density,
        "corpus_source_stats": q.corpus_source_stats,
        "corpus_boilerplate_lines": q.corpus_boilerplate_lines,
        "corpus_token_entropy": q.corpus_token_entropy,
        "corpus_bpe_pairs": q.corpus_bpe_pairs,
        "corpus_bpe_merge2": q.corpus_bpe_merge2,
        "dedup_cdc_chunks": q.dedup_cdc_chunks,
        "doc_simhash64": q.doc_simhash64,
        "dedup_minhash_recall": q.dedup_minhash_recall,
        "doc_lang_agreement": q.doc_lang_agreement,
        "extract_box_overlaps": q.extract_box_overlaps,
        "doc_quality_decile_bounds": q.doc_quality_decile_bounds,
        "tpch_nation_volume": q.tpch_nation_volume,
        "tpch_market_share": q.tpch_market_share,
        "events_retention": q.events_retention,
        "dedup_fingerprint_pairs": q.dedup_fingerprint_pairs,
        "doc_char_entropy": q.doc_char_entropy,
        "events_trailing_value": q.events_trailing_value,
        "events_funnel": q.events_funnel,
        "tpch_pricing_summary": q.tpch_pricing_summary,
        "tpch_top_revenue": q.tpch_top_revenue,
        # --- documents analytics (SURVEY §2.8) ---
        "doc_txt_envelope": q.doc_txt_envelope,
        # --- training-data pipeline ops ---
        "dedup_ngram_jaccard": q.dedup_ngram_jaccard,
        "emb_quantize_sq": q.emb_quantize_sq,
    }


_QW = "['data', 'engine', 'filter', 'quality', 'spark']"

_SCORE_V2 = """(
    least(length({c}) / 100.0, 10.0)
    + least(len(list_distinct(regexp_extract_all(lower({c}), '\\w+'))) / 10.0, 10.0)
    + (length(regexp_replace({c}, '[^A-Za-z0-9]', '', 'g')) / cast(length({c}) as double)) * 10
    + CASE WHEN contains({c}, chr(10)) THEN 5.0 ELSE 0.0 END
    - CASE WHEN length({c}) < 20 THEN 5.0 ELSE 0.0 END
)"""

_SHINGLES = """
w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') ws FROM documents),
shl AS (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(list_slice(ws, i, i + 2), ' '))) shs
        FROM w),
sh AS (SELECT doc_id, unnest(shs) shingle FROM shl),
sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
cm AS (SELECT a.doc_id da, b.doc_id db, count(*) c
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
jac AS (SELECT da, db, cast(floor(1000.0 * c / (x.n + y.n - c)) as bigint) jacc_x1000
        FROM cm JOIN sz x ON cm.da = x.doc_id JOIN sz y ON cm.db = y.doc_id)
"""

_EMB_B = "b AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings)"

_EMB_NORM = f"""
{_EMB_B},
n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) nrm FROM b)
"""


def _cos_sql(a: str, b: str) -> str:
    """Cosine of rows `a` and `b` of CTE n, rounded to 9 decimals on both
    sides so float-fold order can never flip a rank."""
    return (f"round(list_sum(list_transform(generate_series(1, len({a}.e)),\n"
            f"                          i -> {a}.e[i] * {b}.e[i]))"
            f" / ({a}.nrm * {b}.nrm), 9)")


def _cos_topk_sql(j: str = "j") -> str:
    """Each query's 3 best neighbors of the scan `j` (query_id,
    neighbor_id, cos_r), neighbor_id tiebreak."""
    return f"""
            SELECT cast(query_id as bigint) query_id, cast(rank as bigint) rank,
                   cast(neighbor_id as bigint) neighbor_id,
                   cast(floor(cos_r * 1000000000 + 0.5) as bigint) cos_x1e9
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_r DESC, neighbor_id) rank FROM {j})
            WHERE rank <= 3"""


# The exact scan: the first 20 vectors against every other vector.
_EXACT_SCAN = f"""j AS (SELECT q.vec_id query_id, b.vec_id neighbor_id,
                    {_cos_sql("b", "q")} cos_r
                  FROM n b, n q WHERE q.vec_id < 20 AND b.vec_id != q.vec_id)"""


def _ivf_sql(src: str, cells: str, tag: str = "", n_probe: int = 4,
             n_queries: int = 20) -> str:
    """IVF CTEs over vectors `src` (vec_id, e) and centroids `cells` (cid,
    ce): ad{tag} the squared L2 to each centroid rounded to 9 decimals,
    asn{tag} (vec_id, cell, d) each vector's nearest cell, and (n_probe
    > 0) probe (query_id, cell) the n_probe nearest cells of each of the
    first n_queries vectors; cid breaks ties."""
    ctes = f"""ad{tag} AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(generate_series(1, len(v.e)),
                           i -> (v.e[i] - c.ce[i]) * (v.e[i] - c.ce[i]))), 9) d
                   FROM {src} v, {cells} c),
            asn{tag} AS (SELECT vec_id, cid cell, d FROM ad{tag}
                      QUALIFY row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY d, cid) = 1)"""
    if n_probe:
        ctes += f""",
            probe AS (SELECT vec_id query_id, cid cell FROM ad{tag}
                      WHERE vec_id < {n_queries}
                      QUALIFY row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY d, cid) <= {n_probe})"""
    return ctes


def _ivf_scan_sql(j: str = "j") -> str:
    """CTE `j`: each query against the vectors of its probed cells."""
    return f"""{j} AS (SELECT p.query_id, b.vec_id neighbor_id,
                    {_cos_sql("b", "q")} cos_r
                  FROM probe p JOIN asn a ON a.cell = p.cell
                  JOIN n b ON b.vec_id = a.vec_id
                  JOIN n q ON q.vec_id = p.query_id
                  WHERE b.vec_id != p.query_id)"""


# MinHash-LSH over the _SHINGLES sets: 8 md5-min signatures, 4 bands of 2,
# and the candidate pairs (da < db) that share a band key.
_MINHASH_CANDS = """sig AS (SELECT doc_id,
          {sigs}
                FROM shl),
            bands AS (
  {bands}),
            cand AS (SELECT DISTINCT x.doc_id da, y.doc_id db
                     FROM bands x JOIN bands y
                     ON x.band = y.band AND x.band_key = y.band_key
                        AND x.doc_id < y.doc_id)""".format(
    sigs=",\n          ".join(
        f"list_aggregate(list_transform(shs, s -> md5('{i}:' || s)), 'min') mh{i}"
        for i in range(8)),
    bands="\n  UNION ALL ".join(
        f"SELECT doc_id, {b} band, mh{2*b} || '|' || mh{2*b+1} band_key FROM sig"
        for b in range(4)))

# Connected components of the undirected pair graph p (da, db): each
# node's cluster_id is the least node it reaches (needs WITH RECURSIVE).
_COMPONENTS = """e AS (SELECT da src, db dst FROM p
                  UNION ALL SELECT db, da FROM p),
            reach AS (
                SELECT src AS doc_id, src AS lbl FROM e
                UNION
                SELECT e.dst, reach.lbl FROM reach JOIN e ON e.src = reach.doc_id
            ),
            asg AS (SELECT doc_id, min(lbl) cluster_id FROM reach GROUP BY doc_id)"""


def _simhash_words_sql(bits: int = 32, src: str = "documents") -> str:
    """CTE t (doc_id, hs): each distinct lower-cased word of `src` hashed
    to its first bits/4 md5 hex chars, the SimHash input."""
    return f"""t AS (SELECT doc_id,
                list_transform(list_distinct(regexp_extract_all(lower(text), '\\w+')),
                               w -> substr(md5(w), 1, {bits // 4})) hs
                FROM {src})"""


def _simhash_sig_sql(bits: int = 32) -> str:
    """Each doc's SimHash over CTE t."""
    from ocr_image_to_text_spark.dedup import simhash_expr_sql

    return f"SELECT doc_id, {simhash_expr_sql('duckdb', bits=bits)} simhash FROM t"


def _simhash_pairs_sql(bits: int = 32, src: str = "documents",
                       k: int = 3) -> str:
    """Doc pairs (doc_a < doc_b) whose SimHashes differ in at most k bits."""
    return f"""
            WITH {_simhash_words_sql(bits, src)},
            s AS ({_simhash_sig_sql(bits)})
            SELECT cast(a.doc_id as bigint) doc_a, cast(b.doc_id as bigint) doc_b,
                   cast(bit_count(xor(a.simhash, b.simhash)) as bigint) hamming
            FROM s a, s b
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= {k}"""



_TOKEN_TF = r"""t AS (SELECT doc_id,
                              unnest(regexp_extract_all(lower(text), '\w+'))
                                  token
                       FROM documents),
            tf AS (SELECT cast(doc_id as bigint) doc_id, token,
                          cast(count(*) as bigint) tf
                   FROM t GROUP BY doc_id, token)"""

# The X7 entity patterns and the seeded corpus that makes each of them
# match at least once per doc.
_RX_EMAIL = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b"
_RX_PHONE = r"\b(?:\+\d{1,3}[- ]?)?\(?\d{3}\)?[- ]?\d{3}[- ]?\d{4}\b"
_RX_URL = r"https?://(?:[-\w.]|(?:%[\da-fA-F]{2}))+"
_ENTITY_RX = (
    ("date", r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b"),
    ("date", r"\b\d{4}[/-]\d{1,2}[/-]\d{1,2}\b"),
    ("date", r"(?i)\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
             r"[a-z]* \d{1,2},? \d{4}\b"),
    ("email", _RX_EMAIL), ("phone", _RX_PHONE), ("url", _RX_URL))
_ENTITY_SEEDED = r"""
            WITH seeded AS (
              SELECT doc_id,
                     text || ' Contact user' || doc_id
                          || '@example.com on 12/05/2024 or 2024-05-12 '
                          || 'or Jan 5, 2024; call +1 (555) 123-4567; '
                          || 'see https://d' || doc_id || '.example.com' AS text
              FROM documents)"""


def _entities_sql(src: str) -> str:
    """One (doc_id, entity_type, entity) row per X7 pattern match in
    `src`."""
    (t0, rx0), *rest = _ENTITY_RX
    return f"""
            SELECT doc_id, '{t0}' entity_type,
                   unnest(regexp_extract_all(text, '{rx0}')) entity FROM {src}""" + "".join(
        f"""
            UNION ALL SELECT doc_id, '{t}',
                   unnest(regexp_extract_all(text, '{rx}')) FROM {src}"""
        for t, rx in rest)


def _lsh_sig_sql(dim: int = 64, n_planes: int = 8) -> str:
    """DuckDB restatement of the LSH bucket signature: the hyperplanes are
    deterministic md5 material (similarity._hyperplanes), inlined as list
    literals; the projection is rounded to 9 decimals before the sign test
    on both sides so float-fold order can never flip a bit."""
    from ocr_image_to_text_spark.similarity import _hyperplanes

    bits = []
    for plane in _hyperplanes(dim, n_planes):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        proj = (f"round(list_sum(list_transform(generate_series(1, {dim}), "
                f"i -> e[i] * ({lit})[i])), 9)")
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _md5_prefix_int_sql(expr: str, n_hex: int = 8) -> str:
    """DuckDB twin of Spark's conv(substring(md5(x), 1, 8), 16, 10):
    the first `n_hex` hex chars of md5 as a bigint, via an integer-exact
    nibble polynomial (powers < 2^32, so the double-typed `**` is exact
    long before the 2^53 mantissa limit)."""
    terms = " + ".join(
        f"cast((strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" as bigint) * {16 ** (n_hex - 1 - i)}"
        for i in range(n_hex))
    return f"({terms})"


def _hex_int_sql(col: str, start: int, n: int) -> str:
    """Integer value of `n` hex chars of an existing md5 column starting
    at 1-based `start` (nibble polynomial, exact in double)."""
    terms = " + ".join(
        f"cast((strpos('0123456789abcdef', substr({col}, {start + i}, 1)) - 1)"
        f" as bigint) * {16 ** (n - 1 - i)}"
        for i in range(n))
    return f"({terms})"


def _bloom_decontaminate_sql(m: int = 65536, k: int = 3) -> str:
    """DuckDB twin of corpus_decontaminate_bloom: identical md5 position
    hashes, distinct occupied-position build, all-k membership probe."""
    ps = ", ".join(
        _md5_prefix_int_sql(f"'{i}:' || shingle") + f" % {m}"
        for i in range(k))
    return rf"""
            WITH w AS (SELECT doc_id,
                              regexp_split_to_array(trim(text), '\s+') ws
                       FROM documents),
            shl AS (SELECT doc_id,
                      list_distinct(list_transform(
                        generate_series(1, greatest(len(ws) - 2, 1)),
                        i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                        shs
                    FROM w),
            sh AS (SELECT doc_id, unnest(shs) shingle FROM shl),
            bp AS (SELECT DISTINCT pos FROM (
                     SELECT unnest([{ps}]) pos
                     FROM sh WHERE doc_id % 47 = 0)),
            pr AS (SELECT doc_id, shingle, unnest([{ps}]) pos
                   FROM sh WHERE doc_id % 47 <> 0),
            pg AS (SELECT pr.doc_id, pr.shingle,
                          min(CASE WHEN bp.pos IS NOT NULL THEN 1 ELSE 0
                              END) all_hit
                   FROM pr LEFT JOIN bp USING (pos)
                   GROUP BY pr.doc_id, pr.shingle)
            SELECT cast(doc_id as bigint) doc_id,
                   cast(count(*) as bigint) n_grams,
                   cast(sum(all_hit) as bigint) n_bloom_hit_grams
            FROM pg GROUP BY doc_id"""


def _bpe_encode_sql(n_merges: int = 3) -> str:
    """DuckDB twin of corpus_bpe_encode: the same iterative argmax-merge
    chain generated as stacked CTEs (one p{k}/s{k} pair per merge), then
    the per-doc encode join. A merge is the same symbol-wise replace()
    over space-padded symbols (left-to-right non-overlapping in both
    engines)."""
    steps = [r"""words AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\w+')) w
              FROM documents),
            wt AS (SELECT w, count(*) n FROM words GROUP BY w),
            s0 AS (SELECT w, array_to_string(regexp_extract_all(w, '.'),
                                             ' ') sw, n
                   FROM wt)"""]
    prev = "s0"
    for k in range(1, n_merges + 1):
        steps.append(f"""p{k} AS (
              SELECT sy[i] || ' ' || sy[i+1] pair
              FROM (SELECT string_split(sw, ' ') sy, n FROM {prev}) t,
                   unnest(generate_series(1, len(sy) - 1)) u(i)
              GROUP BY pair ORDER BY sum(n) DESC, pair ASC LIMIT 1),
            s{k} AS (SELECT s.w, replace(trim(replace(
                              ' ' || replace(s.sw, ' ', '  ') || ' ',
                              ' ' || replace(p.pair, ' ', '  ') || ' ',
                              ' ' || replace(p.pair, ' ', '') || ' ')),
                            '  ', ' ') sw, s.n
                     FROM {prev} s, p{k} p)""")
        prev = f"s{k}"
    return ("WITH " + ",\n            ".join(steps) + f""",
            enc AS (SELECT w, len(string_split(sw, ' ')) n_sym
                    FROM {prev})
            SELECT cast(words.doc_id as bigint) doc_id,
                   cast(count(*) as bigint) n_words,
                   cast(sum(enc.n_sym) as bigint) n_bpe_tokens
            FROM words JOIN enc USING (w)
            GROUP BY words.doc_id""")


def _cms_sql(k: int = 100, depth: int = 4, width: int = 1024) -> str:
    """DuckDB twin of corpus_top_tokens_cms: same row-salted md5 column
    hashes, 4-way unioned cell build, min-over-rows estimate."""
    branches = "\n              UNION ALL\n".join(
        f"              SELECT {r} r, "
        + _md5_prefix_int_sql(f"'{r}:' || token") + f" % {width} col FROM t"
        for r in range(depth))
    joins = "\n            ".join(
        f"LEFT JOIN g g{r} ON g{r}.r = {r} AND g{r}.col = "
        + _md5_prefix_int_sql(f"'{r}:' || ex.token") + f" % {width}"
        for r in range(depth))
    least = ", ".join(f"coalesce(g{r}.cnt, 0)" for r in range(depth))
    return rf"""
            WITH t AS (SELECT unnest(regexp_extract_all(lower(text),
                              '\w+')) token
                       FROM documents),
            ex AS (SELECT token, cast(count(*) as bigint) n
                   FROM t GROUP BY token
                   ORDER BY n DESC, token ASC LIMIT {k}),
            cells AS (
{branches}),
            g AS (SELECT r, col, cast(count(*) as bigint) cnt
                  FROM cells GROUP BY r, col)
            SELECT ex.token, ex.n,
                   cast(least({least}) as bigint) cms_est
            FROM ex
            {joins}"""


def _vocab_hll_sql(m: int = 256) -> str:
    """DuckDB twin of corpus_vocab_hll: same md5 register/rank split,
    power-of-two register sum (order-independent exact), identical alpha
    literal expression and estimator selection rule."""
    return rf"""
            WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\w+'))
                              token
                       FROM documents),
            h AS (SELECT md5(token) h FROM t),
            x AS (SELECT {_hex_int_sql("h", 1, 2)} reg,
                         {_hex_int_sql("h", 3, 6)} v24
                  FROM h),
            r AS (SELECT reg,
                         max(CASE WHEN v24 = 0 THEN 25
                             ELSE 25 - length(bin(v24)) END) r_max
                  FROM x GROUP BY reg),
            a AS (SELECT g.reg, r.r_max
                  FROM (SELECT unnest(range(0, {m})) reg) g
                  LEFT JOIN r USING (reg)),
            s AS (SELECT sum(CASE WHEN r_max IS NULL THEN 1.0
                             ELSE power(2.0, -r_max) END) s,
                         cast(sum(CASE WHEN r_max IS NULL THEN 1 ELSE 0 END)
                              as bigint) n_zero
                  FROM a),
            e AS (SELECT cast(count(DISTINCT token) as bigint)
                             exact_distinct
                  FROM t)
            SELECT cast({m} as bigint) m, s.n_zero n_zero_registers,
                   cast(floor((0.7213 / (1.0 + 1.079 / {m}))
                        * {m} * {m} / s.s * 1000000.0 + 0.5) as bigint)
                       hll_raw_x1e6,
                   cast(floor(CASE WHEN (0.7213 / (1.0 + 1.079 / {m}))
                                        * {m} * {m} / s.s <= 2.5 * {m}
                                   AND s.n_zero > 0
                              THEN {m}.0 * ln({m}.0 / s.n_zero)
                              ELSE (0.7213 / (1.0 + 1.079 / {m}))
                                   * {m} * {m} / s.s
                              END * 1000000.0 + 0.5) as bigint)
                       hll_est_x1e6,
                   e.exact_distinct
            FROM s, e"""


# Pages a doc into 8-word '.'-terminated lines (the C4 and boilerplate
# seeding).
_PAGED = (r"regexp_replace(text, '((?:\w+\s+){7}\w+)\s+', "
          r"'\1.' || chr(10), 'g')")

# Part of doc_c4_page_filter's certified oracle text.
_C4_NOTE = """
                     -- DuckDB: array_to_string([]) is NULL, Spark
                     -- concat_ws gives '' — coalesce to match"""


def _c4_ctes(src: str, note: str = "") -> str:
    """CTEs applying the C4 §2.2 line rules (terminal punctuation, ≥5
    words, no "javascript") to `src`, ending in CTE c (doc_id, n_lines,
    n_kept_lines, clean_text, has_lorem, has_brace)."""
    return rf"""b AS (
              SELECT doc_id, string_split(text, chr(10)) l,
                     contains(lower(text), 'lorem ipsum') has_lorem,
                     contains(text, '{{') has_brace
              FROM {src}),
            k AS (
              SELECT doc_id, len(l) n_lines,
                     list_filter(l, x ->
                       regexp_matches(rtrim(x), '[.!?"]$')
                       AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
                       AND NOT contains(lower(x), 'javascript')) kept,
                     has_lorem, has_brace
              FROM b),
            c AS (
              SELECT doc_id, n_lines, len(kept) n_kept_lines,{note}
                     coalesce(array_to_string(kept, chr(10)), '') clean_text,
                     has_lorem, has_brace
              FROM k)"""


def _c4_seeded_ctes() -> str:
    """_c4_ctes over the paged + seeded corpus. Seed constants come from
    queries.py so the dialects cannot drift. Shared by the seeded C4
    oracle and the corpus_pipeline_v3 twin."""
    from ocr_image_to_text_spark.queries import (
        C4_SEED_BRACE, C4_SEED_JS, C4_SEED_LOREM)

    seeds = (
        f"CASE WHEN doc_id % 5 = 0 THEN chr(10) || '{C4_SEED_JS}' "
        f"ELSE '' END || "
        f"CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{C4_SEED_LOREM}' "
        f"ELSE '' END || "
        f"CASE WHEN doc_id % 13 = 0 THEN chr(10) || '{C4_SEED_BRACE}' "
        f"ELSE '' END")
    return f"""seeded AS (
              SELECT doc_id, {_PAGED} || {seeds} AS text
              FROM documents),
            {_c4_ctes("seeded")}"""


def _c4_page_sql(ctes: str) -> str:
    """The C4 page filter over `ctes` (ending in CTE c): sentence count
    and the page gate (≥3 sentences, no lorem ipsum, no curly brace)."""
    return f"""
            WITH {ctes}
            SELECT cast(doc_id as bigint) doc_id,
                   cast(n_lines as bigint) n_lines,
                   cast(n_kept_lines as bigint) n_kept_lines,
                   cast(len(regexp_extract_all(clean_text, '[.!?]'))
                        as bigint) n_sentences,
                   (len(regexp_extract_all(clean_text, '[.!?]')) >= 3
                    AND NOT has_lorem AND NOT has_brace) keep_doc,
                   clean_text
            FROM c"""


def _pq_micro_sqdist_sql(x: str, y: str, dsub: int) -> str:
    """Integer micro-unit squared-L2 between two DuckDB list exprs."""
    return (f"cast(list_sum(list_transform("
            f"list_transform(generate_series(1, {dsub}),"
            f" i -> cast(floor({x}[i] * 1000000.0) as bigint)"
            f" - cast(floor({y}[i] * 1000000.0) as bigint)),"
            f" t -> t * t)) as bigint)")


def _pq_ctes(m: int, ksub: int, dim: int, src: str = "b", col: str = "e",
             pre: str = "", seed_base: int = 0) -> list[str]:
    """PQ code frames over `src` (vec_id, `col`): per-subspace slices
    {pre}sb{s}, codebooks {pre}c{s} seeded by vectors seed_base ..
    seed_base + ksub - 1, and argmin code frames {pre}k{s} (cid
    tiebreak — exact, no float ties)."""
    dsub = dim // m
    ctes = []
    for s in range(m):
        lo = s * dsub + 1
        sb, c, ad = f"{pre}sb{s}", f"{pre}c{s}", f"{pre}ad{s}"
        ctes.append(f"{sb} AS (SELECT vec_id, list_slice({col}, {lo},"
                    f" {lo + dsub - 1}) se FROM {src})")
        ctes.append(f"{c} AS (SELECT vec_id - {seed_base} cid, se ce"
                    f" FROM {sb} WHERE vec_id >= {seed_base}"
                    f" AND vec_id < {seed_base + ksub})")
        ctes.append(f"""{ad} AS (
              SELECT v.vec_id, c.cid,
                     {_pq_micro_sqdist_sql("v.se", "c.ce", dsub)} d
              FROM {sb} v, {c} c)""")
        ctes.append(f"""{pre}k{s} AS (
              SELECT vec_id, cid, d FROM {ad} QUALIFY row_number() OVER (
                  PARTITION BY vec_id ORDER BY d, cid) = 1)""")
    return ctes


def _pq_lut_ctes(m: int, dim: int, n_queries: int) -> list[str]:
    """Per-subspace slices q{s} of the first n_queries vectors and their
    distance tables lut{s} (query_id, cid, d) to the codebooks c{s}."""
    dsub = dim // m
    ctes = []
    for s in range(m):
        ctes.append(f"q{s} AS (SELECT vec_id query_id, se qe FROM sb{s}"
                    f" WHERE vec_id < {n_queries})")
        ctes.append(f"""lut{s} AS (
              SELECT q.query_id, c.cid,
                     {_pq_micro_sqdist_sql("q.qe", "c.ce", dsub)} d
              FROM q{s} q, c{s} c)""")
    return ctes


def _adc_topk_sql(ctes: list[str], k: int) -> str:
    """The query over `ctes`: each query's k nearest neighbors by the
    integer ADC distance of CTE scan (vec_id, query_id, adc), vec_id
    tiebreak."""
    cte_block = ",\n            ".join(ctes)
    return f"""
            WITH {cte_block}
            SELECT cast(query_id as bigint) query_id,
                   cast(rank as bigint) rank,
                   cast(neighbor_id as bigint) neighbor_id,
                   cast(adc_microsq as bigint) adc_microsq
            FROM (
              SELECT query_id, vec_id neighbor_id, adc adc_microsq,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY adc, vec_id) rank
              FROM scan WHERE vec_id != query_id)
            WHERE rank <= {k}"""


def _pq_sql(m: int = 4, ksub: int = 16, dim: int = 64) -> str:
    """DuckDB twin of emb_pq_encode: per-subspace seed codebooks,
    integer micro-unit squared-L2 argmin, m-way vec_id re-join."""
    cte_block = ",\n            ".join([_EMB_B] + _pq_ctes(m, ksub, dim))
    codes = ",\n                   ".join(
        f"cast(k{s}.cid as bigint) code{s}" for s in range(m))
    err = " + ".join(f"k{s}.d" for s in range(m))
    joins = "\n            ".join(
        f"JOIN k{s} USING (vec_id)" for s in range(1, m))
    return f"""
            WITH {cte_block}
            SELECT cast(vec_id as bigint) vec_id,
                   {codes},
                   cast({err} as bigint) err_microsq
            FROM k0
            {joins}"""


def _pq_adc_sql(m: int = 4, ksub: int = 16, dim: int = 64,
                n_queries: int = 20, k: int = 3) -> str:
    """DuckDB twin of ann_pq_adc_topk: query→codeword LUT per subspace,
    code-table joins, integer ADC sum, row_number top-k (neighbor
    tiebreak)."""
    code_joins = "\n              ".join(
        f"JOIN k{s} USING (vec_id)" for s in range(1, m))
    lut_joins = "\n              ".join(
        f"JOIN lut{s} l{s} ON l{s}.cid = k{s}.cid"
        + ("" if s == 0 else " AND l{0}.query_id = l0.query_id".format(s))
        for s in range(m))
    adc = " + ".join(f"l{s}.d" for s in range(m))
    return _adc_topk_sql(
        [_EMB_B] + _pq_ctes(m, ksub, dim) + _pq_lut_ctes(m, dim, n_queries)
        + [f"""scan AS (
              SELECT k0.vec_id, l0.query_id, {adc} adc
              FROM k0
              {code_joins}
              {lut_joins})"""], k)


def _ivfpq_adc_sql(m: int = 4, ksub: int = 16, dim: int = 64,
                   n_cells: int = 16, n_probe: int = 4,
                   n_queries: int = 20, k: int = 3) -> str:
    """DuckDB twin of ann_ivfpq_adc_topk: the _pq_ctes code frames plus
    the IVF cell-assignment/probe CTEs, joined so the ADC scan sees only
    probed cells."""
    code_joins = "\n              ".join(
        f"JOIN k{s} USING (vec_id)" for s in range(1, m))
    lut_joins = "\n              ".join(
        f"JOIN lut{s} l{s} ON l{s}.cid = k{s}.cid"
        f" AND l{s}.query_id = p.query_id" for s in range(m))
    adc = " + ".join(f"l{s}.d" for s in range(m))
    return _adc_topk_sql(
        [_EMB_B] + _pq_ctes(m, ksub, dim)
        + [f"cc AS (SELECT vec_id cid, e ce FROM b WHERE vec_id < {n_cells})",
           _ivf_sql("b", "cc", "c", n_probe, n_queries)]
        + _pq_lut_ctes(m, dim, n_queries)
        + [f"""scan AS (
              SELECT k0.vec_id, p.query_id, {adc} adc
              FROM k0
              {code_joins}
              JOIN asnc a ON a.vec_id = k0.vec_id
              JOIN probe p ON p.cell = a.cell
              {lut_joins})"""], k)


def _ivfpq_residual_adc_sql(m: int = 4, ksub: int = 16, dim: int = 64,
                            n_cells: int = 16, n_probe: int = 4,
                            n_queries: int = 20, k: int = 3,
                            seed_base: int = 16) -> str:
    """DuckDB twin of ann_ivfpq_residual_topk: the faithful IVFPQ —
    residual frames per cell, residual-seeded codebooks, per-(query,
    probed-cell) LUTs. Residual subtraction is one IEEE double op, so
    the micro-unit integer distances match Spark bit-for-bit."""
    dsub = dim // m
    ctes = [_EMB_B,
            f"cc AS (SELECT vec_id cid, e ce FROM b WHERE vec_id < {n_cells})",
            _ivf_sql("b", "cc", "c", n_probe, n_queries),
            """res AS (
              SELECT b.vec_id, a.cell,
                     list_transform(generate_series(1, len(b.e)),
                                    i -> b.e[i] - c.ce[i]) re
              FROM b JOIN asnc a ON a.vec_id = b.vec_id
                     JOIN cc c ON c.cid = a.cell)"""]
    ctes += _pq_ctes(m, ksub, dim, "res", "re", "r", seed_base)
    ctes.append("""qres AS (
              SELECT p.query_id, p.cell,
                     list_transform(generate_series(1, len(q.e)),
                                    i -> q.e[i] - c.ce[i]) qre
              FROM probe p JOIN b q ON q.vec_id = p.query_id
                           JOIN cc c ON c.cid = p.cell)""")
    for ss in range(m):
        lo = ss * dsub + 1
        ctes.append(f"""lut{ss} AS (
              SELECT qr.query_id, qr.cell, c.cid,
                     {_pq_micro_sqdist_sql(
                         f"list_slice(qr.qre, {lo}, {lo + dsub - 1})",
                         "c.ce", dsub)} d
              FROM qres qr, rc{ss} c)""")
    code_joins = "\n              ".join(
        f"JOIN rk{ss} USING (vec_id)" for ss in range(1, m))
    lut_joins = "\n              ".join(
        f"JOIN lut{ss} l{ss} ON l{ss}.cid = rk{ss}.cid"
        f" AND l{ss}.query_id = p.query_id AND l{ss}.cell = p.cell"
        for ss in range(m))
    adc = " + ".join(f"l{ss}.d" for ss in range(m))
    ctes.append(f"""scan AS (
              SELECT rk0.vec_id, p.query_id, {adc} adc
              FROM rk0
              {code_joins}
              JOIN res r ON r.vec_id = rk0.vec_id
              JOIN probe p ON p.cell = r.cell
              {lut_joins})""")
    return _adc_topk_sql(ctes, k)


# A6 quality score: printable-char share times a length ramp, on the 1e6
# grid.
_Q_X1E6 = r"""cast(floor(
                       (CASE WHEN length(text) = 0 THEN 0.0 ELSE
                           least(1.0, length(text) / 100.0)
                           * (length(regexp_replace(text, '[^A-Za-z0-9\s]',
                                                    '', 'g'))
                              / cast(length(text) as double))
                        END) * 1000000 + 0.5) as bigint) q_x1e6"""


def _gopher_sql(cols: str = "doc_id", src: str = "documents") -> str:
    """The Gopher/C4 quality gate over `src`: every metric restated and
    the keep rule; fractions are floor(1000·x) so both engines hash
    bit-identically. `cols` pass through."""
    return rf"""
            WITH m AS (
              SELECT {cols},
                     cast(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                          END as bigint) n_words,
                     cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          as bigint) alpha,
                     cast(len(string_split(text, chr(10))) as bigint) n_lines,
                     cast(len(string_split(text, chr(10)))
                          - len(list_distinct(string_split(text, chr(10))))
                          as bigint) n_dup_lines,
                     cast(len(list_filter(
                            ['the','a','and','of','to','is','in','that','it'],
                            w -> list_contains(
                              list_distinct(regexp_extract_all(lower(text), '\w+')),
                              w))) as bigint) n_stopwords
              FROM {src}),
            x AS (
              SELECT {cols}, n_words,
                     cast(CASE WHEN n_words = 0 THEN 0
                          ELSE floor(1000.0 * alpha / n_words)
                          END as bigint) mean_word_len_x1000,
                     cast(floor(1000.0 * n_dup_lines / n_lines) as bigint)
                          dup_line_frac_x1000,
                     n_stopwords
              FROM m)
            SELECT {cols}, n_words, mean_word_len_x1000,
                   dup_line_frac_x1000, n_stopwords,
                   (n_words >= 50
                    AND mean_word_len_x1000 BETWEEN 3000 AND 10000
                    AND dup_line_frac_x1000 <= 300
                    AND n_stopwords >= 2) keep
            FROM x"""


def _gated_sql(src: str, cols: str = "doc_id, text") -> str:
    """The docs of `src` that pass the Gopher gate."""
    return f"SELECT {cols} FROM ({_gopher_sql('doc_id, text', src)}) WHERE keep"


def _exact_dedup_sql(src: str, cols: str = "doc_id, text") -> str:
    """Exact dedup of `src`: the least doc_id of each md5(text) group."""
    return (f"SELECT {cols} FROM {src} QUALIFY row_number() OVER (\n"
            f"                PARTITION BY md5(text) ORDER BY doc_id) = 1")


# Benchmark decontamination over the _SHINGLES word 3-grams: the docs
# with doc_id % 47 = 0 are the benchmark, bench_hit every doc sharing a
# gram with it.
_BENCH_HIT = """bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 47 = 0),
            bench_hit AS (SELECT DISTINCT doc_id
                          FROM sh JOIN bench USING (shingle))"""

# Greedy first-fit packing of CTE toks (doc_id, n_tokens) into 256-token
# sequences per doc_id % 16 bucket: a recursive fold in doc_id order
# (needs WITH RECURSIVE).
_PACK = """rt AS (SELECT doc_id, n_tokens, doc_id % 16 bucket,
                   row_number() OVER (PARTITION BY doc_id % 16
                                      ORDER BY doc_id) rn
                   FROM toks),
            g AS (
              SELECT bucket, rn, doc_id, n_tokens,
                     cast(0 as bigint) pack_seq, n_tokens cur
              FROM rt WHERE rn = 1
              UNION ALL
              SELECT t.bucket, t.rn, t.doc_id, t.n_tokens,
                     CASE WHEN g.cur > 0 AND g.cur + t.n_tokens > 256
                          THEN g.pack_seq + 1 ELSE g.pack_seq END,
                     CASE WHEN g.cur > 0 AND g.cur + t.n_tokens > 256
                          THEN t.n_tokens ELSE g.cur + t.n_tokens END
              FROM g JOIN rt t ON t.bucket = g.bucket AND t.rn = g.rn + 1)
            SELECT doc_id, n_tokens, bucket, pack_seq FROM g"""


def _aes_sql(src: str, cols: str = "") -> str:
    """A-ES weighted-sampling keys of `src`: weight n_tokens (at least 1),
    md5 coin u in (0, 1], key = ln(u) / n_tokens division-first on the
    1e6 grid. `cols` (with a trailing comma) pass through."""
    return f"""SELECT {cols}doc_id, cast(n_tokens as bigint) n_tokens,
                   cast(floor(1000000.0 * ln(u) / n_tokens) as bigint)
                       key_x1e6
            FROM (
              SELECT {cols}cast(doc_id as bigint) doc_id,
                     greatest(1, len(regexp_extract_all(lower(text),
                                                        '\\w+'))) n_tokens,
                     (({_md5_prefix_int_sql("cast(doc_id as varchar)")})
                      % 1000000 + 1) / 1000000.0 u
              FROM {src})"""


def _dsir_sql(raw: str) -> str:
    """DSIR importance weights of the docs of `raw` (doc_id, text) against
    the target slice doc_id % 31 = 0: hashed unigram+bigram buckets (md5
    prefix), add-1 smoothed target/raw estimates, ln computed
    division-first in the identical order, one 1e6-grid round per
    bucket, integer sums per doc. Ends in CTE wts (doc_id, n_grams,
    dsir_logw_x1e6)."""
    return f"""gw AS (
              SELECT doc_id, TRUE is_t,
                     regexp_extract_all(lower(text), '\\w+') ws
              FROM documents WHERE doc_id % 31 = 0
              UNION ALL
              SELECT doc_id, FALSE, regexp_extract_all(lower(text), '\\w+')
              FROM {raw}),
            g0 AS (SELECT doc_id, is_t,
                          unnest(ws || list_transform(
                            range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i+1])) gram
                   FROM gw),
            bkt AS (SELECT doc_id, is_t,
                           {_md5_prefix_int_sql("gram")} % 256 bucket
                    FROM g0),
            cb AS (SELECT bucket,
                          sum(CASE WHEN is_t THEN 1 ELSE 0 END) cnt_t,
                          sum(CASE WHEN is_t THEN 0 ELSE 1 END) cnt_r
                   FROM bkt GROUP BY bucket),
            tt AS (SELECT sum(cnt_t) n_t, sum(cnt_r) n_r FROM cb),
            lrt AS (SELECT bucket,
                           cast(floor(1000000.0 * ln(
                             ((cnt_t + 1.0) / (n_t + 256))
                             * ((n_r + 256) / (cnt_r + 1.0))) + 0.5)
                             as bigint) lr_x1e6
                    FROM cb, tt),
            rw AS (SELECT bkt.doc_id, cast(count(*) as bigint) n_grams,
                          cast(sum(lrt.lr_x1e6) as bigint) s
                   FROM bkt JOIN lrt USING (bucket)
                   WHERE NOT bkt.is_t GROUP BY bkt.doc_id),
            wts AS (SELECT cast(doc_id as bigint) doc_id,
                           cast(coalesce(rw.n_grams, 0) as bigint) n_grams,
                           cast(coalesce(rw.s, 0) as bigint) dsir_logw_x1e6
                    FROM {raw} LEFT JOIN rw USING (doc_id))"""


def _bp_ctes() -> str:
    """Shared DuckDB CTEs for the boilerplate-line pair: the seeded
    paged corpus (header %3 / footer %4 / cookie %7), the distinct
    normalized (doc, line) stream, the corpus count, and the gated
    frequent-line set — restating queries._bp_seeded_docs /
    _bp_frequent_lines independently."""
    from ocr_image_to_text_spark.queries import (
        BP_FRACTION_DEN, BP_MIN_DOCS, BP_SEED_COOKIE, BP_SEED_FOOTER,
        BP_SEED_HEADER)

    return rf"""seeded AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN '{BP_SEED_HEADER}' || chr(10) ELSE '' END
                     || {_PAGED}
                     || CASE WHEN doc_id % 4 = 0
                             THEN chr(10) || '{BP_SEED_FOOTER}' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                             THEN chr(10) || '{BP_SEED_COOKIE}' ELSE '' END
                     AS text
              FROM documents),
            bpl AS (
              SELECT DISTINCT doc_id, trim(lower(u.l)) AS line
              FROM seeded, unnest(string_split(text, chr(10))) AS u(l)
              WHERE trim(lower(u.l)) <> ''),
            bpn AS (SELECT cast(count(*) as bigint) n_docs FROM seeded),
            bp AS (
              SELECT line, cast(count(*) as bigint) doc_freq
              FROM bpl, bpn GROUP BY line, n_docs
              HAVING count(*) >= greatest({BP_MIN_DOCS},
                  cast(floor(n_docs / {BP_FRACTION_DEN}.0) as bigint)))"""


def _pipeline_v3_sql(top_n: int = 100) -> str:
    """DuckDB twin of corpus_pipeline_v3: C4 clean (shared fragment) →
    Gopher gate on the cleaned text → exact dedup (min doc_id per md5) →
    DSIR weights of the survivors vs the raw target slice → top-N."""
    return rf"""
            WITH {_c4_seeded_ctes()},
            cleaned AS (
              SELECT doc_id, clean_text AS text FROM c
              WHERE len(regexp_extract_all(clean_text, '[.!?]')) >= 3
                AND NOT has_lorem AND NOT has_brace),
            gated AS ({_gated_sql("cleaned")}),
            surv AS (SELECT * FROM ({_exact_dedup_sql("gated")})
                     WHERE doc_id % 31 <> 0),
            {_dsir_sql("surv")},
            topd AS (SELECT *,
                            row_number() OVER (ORDER BY dsir_logw_x1e6 DESC,
                                               doc_id ASC) rnk
                     FROM wts)
            SELECT cast(rnk as bigint) AS "rank",
                   cast(doc_id as bigint) doc_id, n_grams, dsir_logw_x1e6
            FROM topd WHERE rnk <= {top_n}"""


def _sample_rate_case_sql() -> str:
    """Per-stratum keep-rate CASE generated from the SAME constants as the
    Spark when-chain (queries.SAMPLE_RATES_X1000) so the dialects cannot
    drift."""
    from ocr_image_to_text_spark.queries import (SAMPLE_DEFAULT_X1000,
                                                 SAMPLE_RATES_X1000)

    whens = " ".join(f"WHEN lang = '{k}' THEN {v}"
                     for k, v in SAMPLE_RATES_X1000.items())
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT_X1000} END"


# The language detector's script-range cascade.
_LANG_SCRIPTS = r"""
                WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                WHEN regexp_matches(text, '[\x{3040}-\x{30ff}]') THEN 'ja'
                WHEN regexp_matches(text, '[\x{ac00}-\x{d7af}]') THEN 'ko'
                WHEN regexp_matches(text, '[\x{0600}-\x{06ff}]') THEN 'ar'
                WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'"""
_LANG_CASCADE = f"""CASE
                WHEN length(text) < 20 THEN 'en'{_LANG_SCRIPTS}
                ELSE 'en' END"""


def _lang_ngram_sql(src: str = "documents") -> str:
    """DuckDB twin of textfn.lang_ngram_col, generated from the same
    LANG_PROFILES so the two dialects cannot drift. `src` lets callers
    point the classifier at a derived (e.g. language-seeded) corpus."""
    from ocr_image_to_text_spark.functions.textfn import LANG_PROFILES

    langs = list(LANG_PROFILES)
    score_cols = ",\n                   ".join(
        "len(list_filter(["
        + ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        + f"], w -> list_contains(dw, w))) s_{lang}"
        for lang in langs)
    argmax = "\n                ".join(
        f"WHEN s_{lang} >= greatest("
        + ", ".join(f"s_{o}" for o in langs if o != lang)
        + f") THEN '{lang}'"
        for lang in langs)
    return rf"""
            WITH d AS (SELECT doc_id, text,
                   list_distinct(regexp_extract_all(lower(coalesce(text, '')), '\w+')) dw
                FROM {src}),
            s AS (SELECT doc_id, text,
                   {score_cols}
                FROM d)
            SELECT doc_id, CASE
                WHEN text IS NULL OR length(text) < 20 THEN 'en'{_LANG_SCRIPTS}
                {argmax}
                ELSE 'en' END lang_detected
            FROM s"""


def oracle_sql() -> dict[str, str]:
    from ocr_image_to_text_spark.operators.fingerprint import (
        fingerprint_pairs_sql_duckdb as _fingerprint_pairs_sql,
        fingerprint_sql_duckdb as _fingerprint_sql,
    )
    from ocr_image_to_text_spark.queries import (
        CHUNK_RETRIEVAL_QUERY, KEYWORD_QUERY_WORDS)
    from ocr_image_to_text_spark.similarity import (
        chunk_cosine_sql_duckdb,
        chunk_l2_sql_duckdb,
    )
    from ocr_image_to_text_spark.transcripts import (
        ensure_transcripts as _ensure_t,
        transcripts_path as _t_path,
    )

    # Driver correctness tier is sf0.01 → transcripts tier t2; build it
    # if the Spark side hasn't yet (idempotent, deterministic).
    _ensure_t("t2")
    _tp = _t_path("t2")

    oracles = {
        # --- extraction pipeline: oracle = pure-Python pyref goldens ---
        "extract_rollup": f"""
            SELECT conv_id, turn_idx, kind, extracted_text, n_blocks_kept,
                   n_blocks_dropped, chars_in, chars_out, table_flag
            FROM read_parquet('{_g("extract")}')""",
        "extract_spans": f"""
            SELECT conv_id, turn_idx, span_idx, span_start, span_end, text
            FROM read_parquet('{_g("spans")}')""",
        "extract_boxes_v1": f"""
            SELECT conv_id, turn_idx, extracted_text
            FROM read_parquet('{_g("boxes_v1")}')""",
        "extract_boxes_v3": f"""
            SELECT conv_id, turn_idx, extracted_text
            FROM read_parquet('{_g("boxes_v3")}')""",
        "extract_boxes_xycut": f"""
            SELECT conv_id, turn_idx, extracted_text
            FROM read_parquet('{_g("boxes_xycut")}')""",
        "extract_layout_analysis": f"""
            SELECT conv_id, turn_idx, total_elements, line_groups,
                   n_columns, n_titles, n_bullets, n_numbered
            FROM read_parquet('{_g("layout_analysis")}')""",
        "conversation_salted_join": f"""
            WITH d AS (SELECT conv_id, count(*) n,
                              sum(CASE WHEN role = 'user' THEN 1 ELSE 0
                                  END) nu
                       FROM read_parquet('{_tp}') GROUP BY conv_id)
            SELECT t.conv_id, t.turn_idx, t.role,
                   cast(d.n as bigint) conv_n_turns,
                   cast(d.nu as bigint) conv_n_user
            FROM read_parquet('{_tp}') t JOIN d USING (conv_id)""",
        "extract_box_overlaps": f"""
            SELECT conv_id, turn_idx, n_boxes, n_overlap_pairs,
                   max_iou_x1e6
            FROM read_parquet('{_g("overlap")}')""",
        "conversation_quality_trend": f"""
            WITH a AS (
              SELECT conv_id,
                     cast(count(*) as bigint) n,
                     cast(sum(cast(turn_idx as bigint)) as bigint) sx,
                     cast(sum(cast(chars_out as bigint)) as bigint) sy,
                     cast(sum(cast(turn_idx as bigint)
                              * cast(chars_out as bigint)) as bigint) sxy,
                     cast(sum(cast(turn_idx as bigint)
                              * cast(turn_idx as bigint)) as bigint) sxx
              FROM read_parquet('{_g("extract")}')
              GROUP BY conv_id)
            SELECT conv_id, n AS n_turns,
                   cast(n * sxy - sx * sy as bigint) num,
                   cast(n * sxx - sx * sx as bigint) den,
                   cast(floor(1000000.0 * (n * sxy - sx * sy)
                              / (n * sxx - sx * sx)) as bigint) slope_x1e6
            FROM a WHERE n * sxx - sx * sx > 0""",
        "extract_kind_metrics": f"""
            SELECT kind, count(*) n_turns,
                   cast(sum(chars_in) as bigint) sum_chars_in,
                   cast(sum(chars_out) as bigint) sum_chars_out,
                   cast(sum(n_blocks_kept) as bigint) sum_blocks_kept,
                   cast(sum(n_blocks_dropped) as bigint) sum_blocks_dropped
            FROM read_parquet('{_g("extract")}') GROUP BY kind""",
        "conversation_stitch": f"""
            SELECT conv_id, stitched FROM read_parquet('{_g("stitch")}')""",
        # T4 preview: same first-10-lines numbering over the stitch golden
        # (DuckDB's indexed list_transform lambda is 1-based, matching the
        # reference's enumerate(lines, 1)).
        "conversation_preview_t4": f"""
            WITH s AS (SELECT conv_id, str_split(stitched, chr(10)) ls
                       FROM read_parquet('{_g("stitch")}'))
            SELECT conv_id,
                   array_to_string(list_transform(list_slice(ls, 1, 10),
                       (x, i) -> printf('%2d: %s', i, x)), chr(10)) AS preview,
                   CAST(len(ls) > 10 AS BIGINT) AS truncated
            FROM s""",
        "conversation_stitch_v1": f"""
            SELECT conv_id, stitched FROM read_parquet('{_g("stitch_v1")}')""",
        # Turn-latency golden: the pure-Python sequential pass (role/ts).
        "conversation_turn_latency": f"""
            SELECT conv_id, n_turns, n_user, n_assistant, n_pairs,
                   mean_latency_ms, max_latency_ms
            FROM read_parquet('{_g("latency")}')""",
        # Corpus latency SLO percentiles over the raw pair golden:
        # quantile_cont ≡ Spark's exact percentile on bigint inputs.
        "conversation_latency_quantiles": f"""
            SELECT cast(count(*) as bigint) n_pairs,
                   cast(floor(quantile_cont(lat_ms, 0.5) * 1000.0 + 0.5)
                        as bigint) p50_x1000,
                   cast(floor(quantile_cont(lat_ms, 0.9) * 1000.0 + 0.5)
                        as bigint) p90_x1000,
                   cast(floor(quantile_cont(lat_ms, 0.99) * 1000.0 + 0.5)
                        as bigint) p99_x1000,
                   cast(max(lat_ms) as bigint) max_ms
            FROM read_parquet('{_g("latency_pairs")}')""",
        # Conversation-level exact dedup over the stitched golden, with
        # the same seeded-duplicate coin rebuilt from the md5 prefix.
        "conversation_dedup_seeded": f"""
            WITH s AS (SELECT conv_id, stitched
                       FROM read_parquet('{_g("stitch")}')),
            a AS (
              SELECT conv_id, md5(stitched) h FROM s
              UNION ALL
              SELECT conv_id || '::dup', md5(stitched) FROM s
              WHERE {_md5_prefix_int_sql("conv_id")} % 5 = 0),
            g AS (SELECT h, cast(count(*) as bigint) group_sz,
                         min(conv_id) keeper
                  FROM a GROUP BY h)
            SELECT a.conv_id, g.group_sz, (a.conv_id = g.keeper) keep
            FROM a JOIN g USING (h)""",
        "extract_flat": f"""
            SELECT conv_id, turn_idx, flat_text
            FROM read_parquet('{_g("flat")}')""",
        "boxes_table_flags": f"""
            SELECT conv_id, turn_idx, table_flag
            FROM read_parquet('{_g("extract")}') WHERE kind = 'boxes'""",
        "chunks_modern": f"""
            SELECT conv_id, turn_idx, chunk_idx, chunk
            FROM read_parquet('{_g("chunks")}')""",
        "extract_similarity_x16": f"""
            SELECT conv_id, turn_idx, ratio_x1e9
            FROM read_parquet('{_g("sim_x16")}')""",
        # --- documents analytics: real SQL restatements ---
        "doc_entities": r"""
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT CAST(d.doc_id + 10000000 AS BIGINT) AS doc_id,
                     coalesce(d.text, '') || ' Contact user' || d.doc_id
                            || '@example.com on 12/05/2024 or 2024-05-12 '
                            || 'or Jan 5, 2024; call +1 (555) 123-4567; '
                            || 'see https://d' || d.doc_id || '.example.com'
              FROM documents d)""" + _entities_sql("u"),
        # Same five regexes over a deterministically seeded corpus so the
        # driver row is NON-vacuous (every pattern yields >=1 row per doc).
        "doc_entities_seeded": _ENTITY_SEEDED + _entities_sql("seeded"),
        # PII redaction: identical seeded text, identical replace chain
        # (email -> phone -> url, 'g' flag = Spark's replace-all default),
        # counts taken pre-redaction. Value-exact masking certification.
        "doc_redact": f"""{_ENTITY_SEEDED}
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '{_RX_EMAIL}',
                         '[EMAIL]', 'g'),
                       '{_RX_PHONE}',
                       '[PHONE]', 'g'),
                     '{_RX_URL}',
                     '[URL]', 'g') redacted_text,
                   cast(len(regexp_extract_all(text,
                     '{_RX_EMAIL}')) as bigint) n_email,
                   cast(len(regexp_extract_all(text,
                     '{_RX_PHONE}')) as bigint) n_phone,
                   cast(len(regexp_extract_all(text,
                     '{_RX_URL}')) as bigint) n_url
            FROM seeded""",
        "doc_lang": f"""
            SELECT doc_id, {_LANG_CASCADE} lang_detected
            FROM documents""",
        "doc_lang_agreement": f"""
            WITH sdocs AS (
              SELECT doc_id, text || CASE cast(doc_id % 7 as int)
                WHEN 1 THEN ' der die und das ist nicht mit ein'
                WHEN 2 THEN ' le les et est dans pour que une'
                WHEN 3 THEN ' el los las es y con para por'
                WHEN 4 THEN ' \u4e2d\u6587\u8bed\u8a00\u68c0\u6d4b\u6d4b\u8bd5'
                WHEN 5 THEN ' \u044d\u0442\u043e \u0442\u0435\u0441\u0442'
                WHEN 6 THEN ' \u0647\u0630\u0627 \u0627\u062e\u062a\u0628\u0627\u0631'
                ELSE '' END AS text
              FROM documents),
            a AS (
              SELECT doc_id, {_LANG_CASCADE} lang_cascade
              FROM sdocs),
            b AS ({_lang_ngram_sql(src="sdocs")})
            SELECT a.lang_cascade, b.lang_detected AS lang_ngram,
                   cast(count(*) as bigint) n_docs
            FROM a JOIN b USING (doc_id)
            GROUP BY a.lang_cascade, b.lang_detected""",
        "doc_lang_ngram": _lang_ngram_sql(),
        "doc_stats": r"""
            SELECT doc_id,
                   cast(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END as bigint) n_words,
                   cast(length(text) as bigint) n_chars,
                   cast(len(string_split(text, chr(10))) as bigint) n_lines
            FROM documents""",
        "doc_quality_v1": r"""
            SELECT doc_id, cast(floor(
                (CASE WHEN length(text) = 0 THEN 0.0 ELSE
                    least(1.0, length(text) / 100.0)
                    * (length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
                       / cast(length(text) as double))
                 END) * 1000000 + 0.5) as bigint) score_x1e6
            FROM documents""",
        "doc_quality_v2": f"""
            SELECT doc_id, cast(floor(
                (CASE WHEN length(text) = 0 THEN 0.0 ELSE {_SCORE_V2.format(c="text")} END)
                * 1000000 + 0.5) as bigint) score_x1e6
            FROM documents""",
        "doc_best_engine": f"""
            WITH c AS (SELECT doc_id, text p, substr(text, 1, 100) e FROM documents)
            SELECT doc_id, CASE
                WHEN length(p) = 0 AND length(e) = 0 THEN ''
                WHEN length(p) = 0 THEN 'easy'
                WHEN length(e) = 0 THEN 'paddle'
                WHEN {_SCORE_V2.format(c="p")} >= {_SCORE_V2.format(c="e")} THEN 'paddle'
                ELSE 'easy' END winner
            FROM c""",
        "doc_engine_fallback": """
            SELECT doc_id,
                   coalesce(nullif(substr(text, 101), ''),
                            nullif(substr(text, 1, 100), ''), '') result
            FROM documents""",
        "doc_chunks_legacy": r"""
            WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents)
            SELECT doc_id, cast(i // 80 as bigint) chunk_idx,
                   array_to_string(list_slice(ws, i + 1, i + 100), ' ') chunk
            FROM w, unnest(generate_series(0, len(ws) - 1, 80)) t(i)""",
        "doc_keyword_score_x5": f"""
            WITH d AS (SELECT doc_id, lower(text) cl,
                              regexp_extract_all(lower(text), '\\w+') cw FROM documents)
            SELECT doc_id, cast(
                5 * len(list_filter({_QW}, w -> list_contains(cw, w)))
                + 10 * len(list_filter({_QW}, w -> length(w) > 3 AND contains(cl, w)))
                as bigint) score_x10
            FROM d""",
        "doc_topk_keyword_x6": f"""
            WITH s AS (SELECT doc_id, cast(len(list_filter({_QW},
                w -> list_contains(regexp_split_to_array(trim(regexp_replace(lower(text),
                     '[^\\w\\s]', '', 'g')), '\\s+'), w))) as bigint) score
                FROM documents)
            SELECT doc_id, score,
                   cast(row_number() OVER (ORDER BY score DESC, doc_id) as bigint) rank
            FROM s WHERE score > 0 QUALIFY rank <= 3""",
        "doc_sentences": r"""
            WITH s AS (SELECT doc_id,
                string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) l
                FROM documents)
            SELECT doc_id, cast(i - 1 as bigint) sentence_idx, l[i] sentence
            FROM s, unnest(generate_series(1, len(l))) t(i)""",
        "doc_markdown": r"""
            SELECT doc_id, array_to_string(list_transform(string_split(text, chr(10)),
                l -> CASE WHEN trim(l) = upper(trim(l)) AND trim(l) != lower(trim(l))
                          AND length(trim(l)) < 50 AND length(trim(l)) > 3
                     THEN '## ' || l ELSE l END), chr(10)) formatted
            FROM documents""",
        "doc_html": r"""
            SELECT doc_id, '<div class="ocr-text">' || chr(10)
                || array_to_string(list_transform(string_split(text, chr(10)),
                     l -> CASE WHEN length(trim(l)) = 0 THEN '<br>'
                          ELSE '<p>' || l || '</p>' END), chr(10))
                || chr(10) || '</div>' formatted
            FROM documents""",
        "qa_fallback_x15": r"""
            WITH s AS (SELECT doc_id,
                string_split(regexp_replace(coalesce(text, ''), '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) l
                FROM documents),
            x AS (SELECT doc_id, l[i] sentence,
                         cast(len(list_filter(
                             ['data','engine','is','quality','spark','the','what'],
                             w -> contains(regexp_replace(lower(l[i]), '[^\w\s]', '', 'g'), w)))
                              as int) score, i
                  FROM s, unnest(generate_series(1, len(l))) t(i)),
            best AS (SELECT doc_id, sentence, score,
                            row_number() OVER (PARTITION BY doc_id
                                               ORDER BY score DESC, i) rn
                     FROM x)
            SELECT doc_id,
                   CASE WHEN score > 0 THEN sentence
                        ELSE 'Could not generate an answer. Please check if the document contains relevant information.'
                   END answer,
                   CASE WHEN score > 0
                        THEN cast(floor(least(score / 7.0, 1.0) * 1000000 + 0.5) as bigint)
                        ELSE 0 END conf_x1e6
            FROM best WHERE rn = 1""",
        "qa_answer_x14": f"""
            SELECT doc_id, query_kind, answer
            FROM read_parquet('{_g("qa_x14")}')""",
        "rag_fallback_pipeline": f"""
            SELECT doc_id, answer, conf_x1e6
            FROM read_parquet('{_g("rag")}')""",
        "boxes_avg_conf": f"""
            SELECT conv_id, turn_idx, avg_conf_x1e9
            FROM read_parquet('{_g("avg_conf")}')""",
        "extract_angle_mode": f"""
            SELECT conv_id, turn_idx, theta_mode, skew_deg, rotation, n_lines
            FROM read_parquet('{_g("angle")}')""",
        "extract_metrics_cube": f"""
            SELECT kind, table_flag, count(*) n_turns,
                   cast(sum(chars_out) as bigint) sum_chars_out
            FROM read_parquet('{_g("extract")}')
            GROUP BY CUBE (kind, table_flag)""",
        "extract_conv_quality": f"""
            SELECT conv_id, count(*) n_turns,
                   cast(sum(chars_in) as bigint) sum_chars_in,
                   cast(sum(chars_out) as bigint) sum_chars_out,
                   cast(CASE WHEN sum(n_blocks_kept) + sum(n_blocks_dropped) = 0
                        THEN 0
                        ELSE floor(1000.0 * sum(n_blocks_kept)
                             / (sum(n_blocks_kept) + sum(n_blocks_dropped)))
                        END as bigint) keep_ratio_x1000,
                   cast(sum(CASE WHEN extracted_text = '' THEN 1 ELSE 0 END)
                        as bigint) n_empty_turns
            FROM read_parquet('{_g("extract")}')
            GROUP BY conv_id""",
        "doc_keyword_topk_x5": f"""
            WITH d AS (SELECT doc_id, lower(text) cl,
                              regexp_extract_all(lower(text), '\\w+') cw FROM documents),
            s AS (SELECT doc_id,
                    0.5 * len(list_filter({_QW}, w -> list_contains(cw, w)))
                    + len(list_filter({_QW}, w -> length(w) > 3 AND contains(cl, w))) raw
                  FROM d),
            n AS (SELECT doc_id,
                    CASE WHEN max(raw) OVER () > 0 THEN raw / (max(raw) OVER ())
                         ELSE 0.1 END norm
                  FROM s)
            SELECT doc_id,
                   cast(row_number() OVER (ORDER BY norm DESC, doc_id) as bigint) rank,
                   cast(floor(norm * 1000000 + 0.5) as bigint) score_x1e6
            FROM n QUALIFY rank <= 3""",
        "doc_txt_envelope": """
            SELECT doc_id, repeat('=', 80) || chr(10) || 'DOCUMENT ' || doc_id
                   || chr(10) || repeat('=', 80) || chr(10) || text || chr(10) formatted
            FROM documents""",
        "doc_token_counts": r"""
            SELECT doc_id,
                   cast(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END as bigint) n_ws_tokens,
                   cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) as bigint) n_bpe_tokens
            FROM documents""",
        # Generated from the SAME spec constants as the numpy kernel
        # (ocr_image_to_text_spark/operators/fingerprint.py) — rolling
        # Horner hash, not md5, so the kernel is vectorizable.
        "doc_fingerprints": _fingerprint_sql(),
        "dedup_fingerprint_pairs": _fingerprint_pairs_sql(),
        "dedup_exact": """
            SELECT md5(text) text_hash, count(*) n_docs,
                   cast(min(doc_id) as bigint) keep_doc_id
            FROM documents GROUP BY 1""",
        "dedup_ngram_jaccard": f"""
            WITH {_SHINGLES}
            SELECT cast(da as bigint) doc_a, cast(db as bigint) doc_b, jacc_x1000
            FROM jac WHERE jacc_x1000 >= 100""",
        "dedup_apply_minhash": f"""
            WITH RECURSIVE {_SHINGLES},
            {_MINHASH_CANDS},
            p AS (SELECT cand.da, cand.db
                  FROM cand JOIN jac
                    ON cand.da = jac.da AND cand.db = jac.db
                  WHERE jac.jacc_x1000 >= 100),
            {_COMPONENTS},
            tot AS (SELECT cast(count(*) as bigint) n_docs FROM documents),
            st AS (SELECT cast(count(*) as bigint) n_near_dup_docs,
                          cast(coalesce(sum(CASE WHEN doc_id <> cluster_id
                                   THEN 1 ELSE 0 END), 0) as bigint) n_dropped
                   FROM asg)
            SELECT tot.n_docs, st.n_near_dup_docs, st.n_dropped,
                   cast(tot.n_docs - st.n_dropped as bigint) n_kept
            FROM tot, st""",
        "dedup_minhash_lsh": f"""
            WITH {_SHINGLES},
            {_MINHASH_CANDS}
            SELECT cast(cand.da as bigint) doc_a, cast(cand.db as bigint) doc_b, jac.jacc_x1000
            FROM cand JOIN jac ON cand.da = jac.da AND cand.db = jac.db
            WHERE jac.jacc_x1000 >= 100""",
        "doc_simhash": f"""
            WITH {_simhash_words_sql()}
            {_simhash_sig_sql()}""",
        "ann_cosine_topk": f"""
            WITH {_EMB_NORM},
            {_EXACT_SCAN}{_cos_topk_sql()}""",
        "ann_lsh_topk": f"""
            WITH {_EMB_NORM},
            sig AS (SELECT vec_id, e, nrm, {_lsh_sig_sql()} bucket FROM n),
            j AS (SELECT q.vec_id query_id, b.vec_id neighbor_id,
                    {_cos_sql("b", "q")} cos_r
                  FROM sig b JOIN sig q ON b.bucket = q.bucket
                  WHERE q.vec_id < 20 AND b.vec_id != q.vec_id){_cos_topk_sql()}""",
        "ann_ivf_topk": f"""
            WITH {_EMB_NORM},
            c AS (SELECT vec_id cid, e ce FROM n WHERE vec_id < 16),
            {_ivf_sql("n", "c")},
            {_ivf_scan_sql()}{_cos_topk_sql()}""",
        # Recall@k of IVF vs the exact scan: both searches restated, then
        # a per-query LEFT JOIN hit count (count(matched) keeps 0-recall
        # queries as rows).
        "ann_ivf_recall": f"""
            WITH {_EMB_NORM},
            {_EXACT_SCAN},
            et AS (SELECT query_id, neighbor_id FROM ({_cos_topk_sql()})),
            c AS (SELECT vec_id cid, e ce FROM n WHERE vec_id < 16),
            {_ivf_sql("n", "c")},
            {_ivf_scan_sql("ij")},
            it AS (SELECT query_id, neighbor_id FROM ({_cos_topk_sql("ij")}))
            SELECT cast(et.query_id as bigint) query_id,
                   cast(count(it.neighbor_id) as bigint) n_hits,
                   cast(floor(1000.0 * count(it.neighbor_id) / 3) as bigint)
                     AS recall_x1000
            FROM et LEFT JOIN it ON et.query_id = it.query_id
                                AND et.neighbor_id = it.neighbor_id
            GROUP BY et.query_id""",
        # IVF with ONE Lloyd refinement: the twin restates the k-means
        # step exactly — integer micro-unit sums (floor(e·1e6) longs),
        # floor(sum/cnt)/1e6 exact means, empty cells keep the seed.
        "ann_ivf_lloyd_topk": f"""
            WITH {_EMB_NORM},
            seed AS (SELECT vec_id cid, e ce FROM n WHERE vec_id < 16),
            {_ivf_sql("n", "seed", "0", n_probe=0)},
            ex AS (SELECT a.cell, unnest(generate_series(1, len(b.e))) i, b.e
                   FROM asn0 a JOIN n b USING (vec_id)),
            cs AS (SELECT cell, i, sum(cast(floor(e[i] * 1000000.0) as bigint)) s,
                          count(*) cnt
                   FROM ex GROUP BY 1, 2),
            newc AS (SELECT cell cid, list(floor(s / cnt) / 1000000.0 ORDER BY i) ce
                     FROM cs GROUP BY cell),
            c AS (SELECT seed.cid, coalesce(newc.ce, seed.ce) ce
                  FROM seed LEFT JOIN newc USING (cid)),
            {_ivf_sql("n", "c")},
            {_ivf_scan_sql()}{_cos_topk_sql()}""",
        # SemDeDup (Abbas et al. 2023): same deterministic centroids /
        # rounded folds as the IVF twin; within-cell keep order is
        # (dist-to-centroid DESC, vec_id) per the paper's keep-hard rule.
        "semdedup_prune": f"""
            WITH {_EMB_NORM},
            c AS (SELECT vec_id cid, e ce FROM n WHERE vec_id < 16),
            {_ivf_sql("n", "c", n_probe=0)},
            m AS (SELECT n.vec_id, n.e, n.nrm, a.cell, a.d dcent
                  FROM n JOIN asn a USING (vec_id)),
            p AS (SELECT a.vec_id, b.vec_id partner,
                    {_cos_sql("a", "b")} cos_r
                  FROM m a JOIN m b ON a.cell = b.cell
                  WHERE (b.dcent > a.dcent
                         OR (b.dcent = a.dcent AND b.vec_id < a.vec_id))),
            r AS (SELECT vec_id, partner, cos_r,
                    row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos_r DESC, partner) rn
                  FROM p WHERE cos_r >= 0.35)
            SELECT cast(m.vec_id as bigint) vec_id, cast(m.cell as bigint) cell,
                   cast(r.vec_id IS NULL as bigint) keep,
                   cast(r.partner as bigint) dup_of,
                   cast(floor(r.cos_r * 1000000000 + 0.5) as bigint) cos_x1e9
            FROM m LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
                 ON r.vec_id = m.vec_id""",
        # Lee et al. 2022 ExactSubstr signal at word-3-gram granularity:
        # only the w/shl/sh CTEs of _SHINGLES are referenced (DuckDB does
        # not evaluate the unreferenced pair-join CTEs).
        "dedup_dup_spans": f"""
            WITH {_SHINGLES},
            dfq AS (SELECT shingle, count(*) df FROM sh GROUP BY 1)
            SELECT cast(sh.doc_id as bigint) doc_id,
                   cast(count(*) as bigint) n_grams,
                   cast(sum(CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END) as bigint)
                       n_dup_grams,
                   cast(floor(1000.0 * sum(CASE WHEN dfq.df > 1 THEN 1 ELSE 0 END)
                        / count(*)) as bigint) dup_frac_x1000
            FROM sh JOIN dfq USING (shingle)
            GROUP BY sh.doc_id""",
        # CDC chunking: boundary flag per word TYPE via the shared
        # md5-prefix-int fragment, per-doc prefix-sum chunk ids, chunk
        # keys = md5 of space-joined words, df>1 flag-back
        "dedup_cdc_chunks": f"""
            WITH d AS (SELECT cast(doc_id as bigint) doc_id,
                              regexp_extract_all(lower(text), '\\w+') ws
                       FROM documents),
            w AS (SELECT doc_id, i - 1 pos, ws[i] w
                  FROM d, unnest(generate_series(1, len(ws))) t(i)),
            f AS (SELECT doc_id, pos, w,
                         CASE WHEN ({_md5_prefix_int_sql("w")}) % 8 = 0
                              THEN 1 ELSE 0 END fl
                  FROM w),
            c AS (SELECT doc_id, pos, w,
                         sum(fl) OVER (PARTITION BY doc_id ORDER BY pos)
                             chunk_id
                  FROM f),
            ch AS (SELECT doc_id, chunk_id,
                          md5(string_agg(w, ' ' ORDER BY pos)) k
                   FROM c GROUP BY doc_id, chunk_id),
            cnt AS (SELECT k, count(*) cnt FROM ch GROUP BY k)
            SELECT ch.doc_id,
                   cast(count(*) as bigint) n_chunks,
                   cast(sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END)
                        as bigint) n_dup_chunks,
                   cast(floor(1000.0 * sum(CASE WHEN cnt.cnt > 1
                                                THEN 1 ELSE 0 END)
                              / count(*)) as bigint) dup_frac_x1000
            FROM ch JOIN cnt USING (k)
            GROUP BY ch.doc_id""",
        # C4 three-sentence-span dedup: X13 sentinel sentence split,
        # normalized-md5 span keys, keep-first = min(struct) — DuckDB's
        # struct min uses the same (doc_id, span_idx) ordering as Spark.
        "dedup_c4_spans": r"""
            WITH s AS (SELECT doc_id,
                string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) l
                FROM documents),
            sp AS (
              SELECT cast(doc_id as bigint) doc_id,
                     cast(i - 1 as bigint) span_idx,
                     md5(trim(regexp_replace(
                       lower(array_to_string(l[i:i+2], ' ')),
                       '[^a-z0-9]+', ' ', 'g'))) k
              FROM s, unnest(generate_series(1, len(l) - 2)) t(i)),
            c AS (
              SELECT k, count(*) cnt,
                     min(struct_pack(doc_id := doc_id,
                                     span_idx := span_idx)) f0
              FROM sp GROUP BY k),
            j AS (
              SELECT sp.doc_id,
                     CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END is_dup,
                     CASE WHEN c.cnt = 1
                            OR ((c.f0).doc_id = sp.doc_id
                                AND (c.f0).span_idx = sp.span_idx)
                          THEN 0 ELSE 1 END removed
              FROM sp JOIN c USING (k)),
            r AS (
              SELECT doc_id, cast(count(*) as bigint) n_spans,
                     cast(sum(is_dup) as bigint) n_dup_spans,
                     cast(sum(removed) as bigint) n_removed
              FROM j GROUP BY doc_id)
            SELECT cast(d.doc_id as bigint) doc_id,
                   cast(coalesce(r.n_spans, 0) as bigint) n_spans,
                   cast(coalesce(r.n_dup_spans, 0) as bigint) n_dup_spans,
                   cast(coalesce(r.n_removed, 0) as bigint) n_removed
            FROM documents d LEFT JOIN r USING (doc_id)""",
        "dedup_simhash_pairs_narrow": _simhash_pairs_sql(),
        "doc_simhash64": f"""
            WITH {_simhash_words_sql(64)}
            {_simhash_sig_sql(64)}""",
        "dedup_simhash_pairs": _simhash_pairs_sql(64),
        "dedup_clusters": f"""
            WITH RECURSIVE p AS (
              SELECT doc_a da, doc_b db FROM ({_simhash_pairs_sql()})),
            {_COMPONENTS}
            SELECT cast(doc_id as bigint) doc_id,
                   cast(cluster_id as bigint) cluster_id,
                   cast(count(*) OVER (PARTITION BY cluster_id) as bigint) n_docs
            FROM asg""",
        # Heavy hitters: deterministic tie order (n desc, token asc)
        # makes the top-100 set identical on both engines.
        # Token-budget source mixing: same (shard, md5(doc_id), doc_id)
        # order and prefix rule as queries.corpus_mix_budget; the twin
        # restates the two-phase sum as one composed window expression.
        "corpus_mix_budget": r"""
            WITH t AS (SELECT doc_id, source,
                         cast(len(regexp_extract_all(text, '\S+')) as bigint)
                             n_tokens,
                         cast(doc_id % 8 as int) shard,
                         md5(cast(doc_id as varchar)) h
                       FROM documents),
            l AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard
                    ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) local_cum
                  FROM t),
            o AS (SELECT source, shard,
                    coalesce(sum(tot) OVER (PARTITION BY source ORDER BY shard
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) t_off
                  FROM (SELECT source, shard, sum(n_tokens) tot
                        FROM t GROUP BY 1, 2))
            SELECT cast(l.doc_id as bigint) doc_id, l.source, l.n_tokens,
                   cast(l.local_cum + o.t_off as bigint) cum_tokens
            FROM l JOIN o USING (source, shard)
            WHERE l.local_cum + o.t_off <= 800""",
        "corpus_top_tokens": r"""
            SELECT token, cast(count(*) as bigint) n
            FROM (SELECT unnest(regexp_extract_all(lower(text), '\w+')) token
                  FROM documents)
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 100""",
        # Gopher/C4 quality gate: every metric restated; fractions are
        # floor(1000·x) so both engines hash bit-identically.
        "doc_quality_gopher": _gopher_sql(),
        # C4 §2.2 line-level cleaning: the per-line predicate (terminal
        # punctuation, ≥5 words, no "javascript") and page gate restated
        # verbatim as list_filter lambdas.
        "doc_c4_page_filter": _c4_page_sql(_c4_ctes("documents", _C4_NOTE)),
        # Seeded C4 oracle: rebuild the identical paged text (8-word
        # '.\n' sentences + per-doc_id seed lines from the SAME
        # queries.py constants) then apply the same rules — certifies
        # every rule's positive and negative path at driver level.
        "doc_c4_page_filter_seeded": _c4_page_sql(_c4_seeded_ctes()),
        # RefinedWeb-shaped composition: C4 clean -> Gopher gate on the
        # cleaned text -> exact dedup -> DSIR top-N; all four stages
        # restated from the same shared fragments/constants.
        "corpus_pipeline_v3": _pipeline_v3_sql(),
        # Gopher §A1.1 repetition signals: every gram width restated;
        # DuckDB's max(struct) uses the same (cnt, gram) binary ordering
        # as Spark's max(struct(cnt, gram)), so top-gram ties agree.
        "doc_repetition_signals": r"""
            WITH w AS (
              SELECT doc_id, regexp_extract_all(lower(text), '\w+') words
              FROM documents),
            b AS (
              SELECT doc_id, words,
                     cast(length(array_to_string(words, ' ')) as bigint)
                         norm_len
              FROM w),
            e AS (
              SELECT doc_id, norm_len, ns.n AS n,
                     unnest(list_transform(
                       range(1, len(words) - ns.n + 2),
                       i -> array_to_string(words[i:i+ns.n-1], ' '))) gram
              FROM b, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
              WHERE norm_len > 0),
            c AS (
              SELECT doc_id, norm_len, n, gram,
                     cast(count(*) as bigint) cnt
              FROM e GROUP BY ALL),
            a AS (
              SELECT doc_id, norm_len, n,
                     max(struct_pack(cnt := cnt, gram := gram)) top,
                     cast(coalesce(sum(CASE WHEN cnt >= 2
                                       THEN cnt * length(gram) END), 0)
                          as bigint) dup_chars
              FROM c GROUP BY ALL),
            f AS (
              SELECT doc_id, n,
                     cast(floor(1000.0 * ((top).cnt * length((top).gram))
                                / norm_len) as bigint) top_frac,
                     cast(floor(1000.0 * dup_chars / norm_len) as bigint)
                         dup_frac
              FROM a),
            p AS (
              SELECT doc_id,
                     max(CASE WHEN n=2 THEN top_frac END) t2,
                     max(CASE WHEN n=3 THEN top_frac END) t3,
                     max(CASE WHEN n=4 THEN top_frac END) t4,
                     max(CASE WHEN n=5 THEN dup_frac END) d5,
                     max(CASE WHEN n=6 THEN dup_frac END) d6,
                     max(CASE WHEN n=7 THEN dup_frac END) d7,
                     max(CASE WHEN n=8 THEN dup_frac END) d8,
                     max(CASE WHEN n=9 THEN dup_frac END) d9,
                     max(CASE WHEN n=10 THEN dup_frac END) d10
              FROM f GROUP BY doc_id)
            SELECT d.doc_id,
                   cast(coalesce(t2, 0) as bigint) top2_frac_x1000,
                   cast(coalesce(t3, 0) as bigint) top3_frac_x1000,
                   cast(coalesce(t4, 0) as bigint) top4_frac_x1000,
                   cast(coalesce(d5, 0) as bigint) dup5_frac_x1000,
                   cast(coalesce(d6, 0) as bigint) dup6_frac_x1000,
                   cast(coalesce(d7, 0) as bigint) dup7_frac_x1000,
                   cast(coalesce(d8, 0) as bigint) dup8_frac_x1000,
                   cast(coalesce(d9, 0) as bigint) dup9_frac_x1000,
                   cast(coalesce(d10, 0) as bigint) dup10_frac_x1000,
                   (coalesce(t2, 0) <= 200 AND coalesce(t3, 0) <= 180
                    AND coalesce(t4, 0) <= 160 AND coalesce(d5, 0) <= 150
                    AND coalesce(d6, 0) <= 140 AND coalesce(d7, 0) <= 130
                    AND coalesce(d8, 0) <= 120 AND coalesce(d9, 0) <= 110
                    AND coalesce(d10, 0) <= 100) keep
            FROM documents d LEFT JOIN p USING (doc_id)""",
        # Full pretraining-prep composition: gopher gate -> benchmark
        # decontamination -> exact dedup -> greedy packing, all four
        # stages restated (packing as the recursive greedy fold).
        "corpus_pipeline_v2": f"""
            WITH RECURSIVE {_SHINGLES},
            {_BENCH_HIT},
            clean AS (
              SELECT * FROM ({_gated_sql("documents", "doc_id, text, n_words")})
              WHERE doc_id % 47 != 0
                AND doc_id NOT IN (SELECT doc_id FROM bench_hit)),
            toks AS ({_exact_dedup_sql("clean", "doc_id, n_words n_tokens")}),
            {_PACK}""",
        # Sequence packing: the greedy first-fit fold restated as a
        # recursive CTE stepping row_number within each bucket — the
        # serial-within-shard semantics the applyInPandas pass implements.
        "corpus_pack_sequences": rf"""
            WITH RECURSIVE toks AS (
              SELECT doc_id,
                     cast(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                          END as bigint) n_tokens
              FROM documents),
            {_PACK}""",
        # Decontamination: same shingle construction as _SHINGLES, split
        # into benchmark (doc_id % 47 = 0) vs corpus sides.
        "corpus_decontaminate": r"""
            WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws
                       FROM documents),
            shl AS (SELECT doc_id,
                      list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
                                    i -> array_to_string(list_slice(ws, i, i + 2), ' '))) shs
                    FROM w),
            sh AS (SELECT doc_id, unnest(shs) gram FROM shl),
            bench AS (SELECT doc_id bench_id, gram FROM sh WHERE doc_id % 47 = 0),
            corp AS (SELECT doc_id, gram FROM sh WHERE doc_id % 47 != 0)
            SELECT corp.doc_id,
                   cast(count(distinct gram) as bigint) n_shared_grams,
                   cast(count(distinct bench_id) as bigint) n_bench_docs
            FROM corp JOIN bench USING (gram)
            GROUP BY corp.doc_id""",
        "corpus_decontaminate_anti": f"""
            WITH {_SHINGLES},
            {_BENCH_HIT}
            SELECT cast(d.doc_id as bigint) doc_id,
                   cast(length(d.text) as bigint) n_chars
            FROM documents d
            WHERE d.doc_id % 47 != 0
              AND d.doc_id NOT IN (SELECT doc_id FROM bench_hit)""",
        # Bloom-filter decontamination: the occupied-position set IS the
        # bit array; same md5 position hashes, all-k membership per gram.
        "corpus_decontaminate_bloom": _bloom_decontaminate_sql(),
        "corpus_curation_pipeline": f"""
            WITH scored AS (SELECT doc_id, text,
                cast(floor((CASE WHEN length(text) = 0 THEN 0.0
                            ELSE {_SCORE_V2.format(c="text")} END)
                     * 1000000 + 0.5) as bigint) score_x1e6,
                {_LANG_CASCADE} lang
                FROM documents),
            kept AS (SELECT * FROM scored
                     WHERE score_x1e6 >= 13000000 AND lang = 'en'),
            ded AS ({_exact_dedup_sql("kept", "doc_id, text, score_x1e6, lang")}),
            nd AS (SELECT DISTINCT doc_b doc_id
                   FROM ({_simhash_pairs_sql(src="ded", k=1)}))
            SELECT cast(d.doc_id as bigint) doc_id, score_x1e6, lang
            FROM ded d ANTI JOIN nd USING (doc_id)""",
        "chunk_l2_topk": chunk_l2_sql_duckdb(_g("chunks"), CHUNK_RETRIEVAL_QUERY, k=5),
        "chunk_cosine_topk": chunk_cosine_sql_duckdb(_g("chunks"), CHUNK_RETRIEVAL_QUERY, k=5),
        "emb_dup_pairs": f"""
            WITH {_EMB_NORM},
            j AS (SELECT a.vec_id va, b.vec_id vb,
                    {_cos_sql("a", "b")} cos_r
                  FROM n a, n b WHERE a.vec_id < b.vec_id)
            SELECT cast(va as bigint) vec_a, cast(vb as bigint) vec_b,
                   cast(floor(cos_r * 1000000000 + 0.5) as bigint) cos_x1e9
            FROM j WHERE cos_r >= 0.35""",
        "media_image_features": f"""
            SELECT media_id, width, height, mean_r_x1e6, mean_g_x1e6,
                   mean_b_x1e6, phash
            FROM read_parquet('{_g("media_image")}')""",
        "media_audio_features": f"""
            SELECT media_id, duration_ms, rms_x1e9, zero_cross
            FROM read_parquet('{_g("media_audio")}')""",
        "media_video_frames": f"""
            SELECT media_id, frame_idx, ts_ms, mean_r_x1e6, mean_g_x1e6,
                   mean_b_x1e6, phash
            FROM read_parquet('{_g("media_video")}')""",
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') hour_bucket, event_type,
                   count(*) n_events,
                   cast(sum(cast(floor(value * 100 + 0.5) as bigint)) as bigint) sum_value_x100
            FROM events GROUP BY 1, 2""",
        "events_sessions": """
            WITH b AS (SELECT user_id,
                CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                THEN 1 ELSE 0 END brk FROM events)
            SELECT user_id, cast(sum(brk) + 1 as bigint) n_sessions
            FROM b GROUP BY 1""",
        "events_asof_join": """
            WITH sub AS (SELECT * FROM events
                         WHERE event_type IN ('click', 'view')),
            w AS (SELECT event_id, event_type, ts,
                    last_value(CASE WHEN event_type = 'view' THEN event_id END
                               IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      view_event_id,
                    last_value(CASE WHEN event_type = 'view' THEN ts END
                               IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      view_ts
                  FROM sub)
            SELECT cast(event_id as bigint) event_id,
                   cast(view_event_id as bigint) view_event_id,
                   cast(epoch_ms(ts) - epoch_ms(view_ts) as bigint) gap_ms
            FROM w WHERE event_type = 'click'""",
        "doc_length_histogram": r"""
            WITH tc AS (SELECT lang,
                cast(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                     as bigint) n
                FROM documents)
            SELECT lang,
                   cast(CASE WHEN n = 0 THEN 0 ELSE length(bin(n)) END
                        as bigint) len_bucket,
                   count(*) n_docs, cast(sum(n) as bigint) sum_ws_tokens
            FROM tc GROUP BY 1, 2""",
        "corpus_sample_stratified": f"""
            WITH h AS (SELECT doc_id, lang,
                {_md5_prefix_int_sql("cast(doc_id as varchar)")} % 1000
                    strat_hash
                FROM documents)
            SELECT cast(doc_id as bigint) doc_id, lang,
                   cast(strat_hash as bigint) strat_hash
            FROM h WHERE strat_hash < ({_sample_rate_case_sql()})""",
        # Deterministic HLL vocabulary sketch beside the exact count.
        "corpus_vocab_hll": _vocab_hll_sql(),
        # Corpus TF-IDF top-k: idf rounded once per token to the 1e6
        # grid, per-doc scores integer-exact, token-asc tie order.
        "doc_tfidf_topk": rf"""
            WITH {_TOKEN_TF},
            nd AS (SELECT cast(count(*) as bigint) n FROM documents),
            idf AS (SELECT token,
                           cast(floor(1000000.0 * ln(nd.n / cast(df as
                                bigint)) + 0.5) as bigint) idf_x1e6
                    FROM (SELECT token, count(*) df
                          FROM tf GROUP BY token), nd),
            sc AS (SELECT tf.doc_id, tf.token, tf.tf,
                          cast(tf.tf * idf.idf_x1e6 as bigint) tfidf_x1e6
                   FROM tf JOIN idf USING (token)),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf_x1e6 DESC,
                                                     token ASC) rnk
                  FROM sc)
            SELECT doc_id, cast(rnk as bigint) AS "rank", token, tf,
                   tfidf_x1e6
            FROM r WHERE rnk <= 5""",
        # TPC-H-shaped OLAP over the provided warehouse tables; money is
        # per-row floored cents so sums are integer-exact cross-engine.
        "tpch_pricing_summary": r"""
            SELECT l_returnflag, l_linestatus,
                   cast(count(*) as bigint) n_rows,
                   cast(sum(cast(floor(l_quantity * 100.0 + 0.5) as bigint))
                        as bigint) sum_qty_c,
                   cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5)
                        as bigint)) as bigint) sum_base_c,
                   cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount)
                        * 100.0 + 0.5) as bigint)) as bigint) sum_disc_c,
                   cast(sum(cast(floor(l_extendedprice * (1.0 - l_discount)
                        * (1.0 + l_tax) * 100.0 + 0.5) as bigint))
                        as bigint) sum_charge_c
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-01-01'
            GROUP BY l_returnflag, l_linestatus""",
        "tpch_top_revenue": r"""
            SELECT o.o_orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d') o_orderdate,
                   cast(sum(cast(floor(l.l_extendedprice
                        * (1.0 - l.l_discount) * 100.0 + 0.5) as bigint))
                        as bigint) revenue_c
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '2000-01-01'
              AND l.l_shipdate > TIMESTAMP '2000-01-01'
            GROUP BY o.o_orderkey, o.o_orderdate
            ORDER BY revenue_c DESC, o.o_orderkey ASC
            LIMIT 10""",
        "tpch_promo_revenue": r"""
            SELECT cast(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN cast(floor(l.l_extendedprice
                             * (1.0 - l.l_discount) * 100.0 + 0.5) as bigint)
                        ELSE 0 END) as bigint) promo_rev_c,
                   cast(sum(cast(floor(l.l_extendedprice
                        * (1.0 - l.l_discount) * 100.0 + 0.5) as bigint))
                        as bigint) total_rev_c,
                   cast(floor(1000000.0 * 100.0
                        * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN cast(floor(l.l_extendedprice
                                   * (1.0 - l.l_discount) * 100.0 + 0.5)
                                   as bigint) ELSE 0 END)
                        / sum(cast(floor(l.l_extendedprice
                              * (1.0 - l.l_discount) * 100.0 + 0.5)
                              as bigint)) + 0.5) as bigint) promo_pct_x1e6
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
              AND l.l_shipdate < TIMESTAMP '1999-01-01'""",
        "tpch_local_supplier_revenue": r"""
            SELECT n.n_name,
                   cast(sum(cast(floor(l.l_extendedprice
                        * (1.0 - l.l_discount) * 100.0 + 0.5) as bigint))
                        as bigint) revenue_c
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
            GROUP BY n.n_name""",
        # Exact per-lang length quantiles: Spark percentile and DuckDB
        # quantile_cont share the interpolation definition (verified
        # bit-identical on bigint inputs).
        "corpus_length_quantiles": r"""
            WITH b AS (SELECT lang,
                cast(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END as bigint) nw
                FROM documents)
            SELECT lang, cast(count(*) as bigint) n_docs,
                   cast(floor(quantile_cont(nw, 0.25) * 1000000.0 + 0.5)
                        as bigint) p25_x1e6,
                   cast(floor(quantile_cont(nw, 0.5) * 1000000.0 + 0.5)
                        as bigint) p50_x1e6,
                   cast(floor(quantile_cont(nw, 0.75) * 1000000.0 + 0.5)
                        as bigint) p75_x1e6,
                   cast(floor(quantile_cont(nw, 0.95) * 1000000.0 + 0.5)
                        as bigint) p95_x1e6
            FROM b GROUP BY lang""",
        # Count-Min Sketch beside the exact heavy hitters: pure integer
        # arithmetic, same md5 row-salted column hashes.
        "corpus_top_tokens_cms": _cms_sql(),
        # SQ8 embedding quantization: identical affine op order, per-dim
        # error rounding before the order-independent integer sum.
        "emb_quantize_sq": r"""
            WITH b AS (SELECT vec_id, embedding::DOUBLE[] e
                       FROM embeddings),
            x AS (SELECT vec_id, i - 1 d, e[i] x
                  FROM b, unnest(generate_series(1, len(e))) t(i)),
            s AS (SELECT d, min(x) mn, max(x) mx FROM x GROUP BY d),
            q AS (SELECT vec_id, d, x, mn, mx,
                         CASE WHEN mx = mn THEN 0
                         ELSE cast(floor(255.0 * (x - mn) / (mx - mn)
                                   + 0.5) as bigint) END code
                  FROM x JOIN s USING (d)),
            r AS (SELECT vec_id, d, code, x,
                         mn + code * ((mx - mn) / 255.0) xq
                  FROM q)
            SELECT cast(vec_id as bigint) vec_id,
                   md5(string_agg(cast(code as varchar), ','
                                  ORDER BY d)) code_md5,
                   cast(sum(cast(floor(1000000000.0 * (x - xq) * (x - xq)
                        + 0.5) as bigint)) as bigint) err_x1e9
            FROM r GROUP BY vec_id""",
        # Bigram-LM log-prob: ln rounded once per bigram type,
        # add-1 smoothing against c(w1)+V, integer doc sums.
        "doc_bigram_logprob": r"""
            WITH w AS (SELECT doc_id,
                              regexp_extract_all(lower(text), '\w+') ws
                       FROM documents),
            bg0 AS (SELECT doc_id, ws[i] w1,
                           ws[i] || ' ' || ws[i+1] bg
                    FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)),
            tfbg AS (SELECT cast(doc_id as bigint) doc_id, w1, bg,
                            cast(count(*) as bigint) tf
                     FROM bg0 GROUP BY doc_id, w1, bg),
            cbg AS (SELECT w1, bg, cast(sum(tf) as bigint) c_bg
                    FROM tfbg GROUP BY w1, bg),
            cw AS (SELECT tok w1, cast(count(*) as bigint) c_w1 FROM (
                     SELECT unnest(ws) tok FROM w) GROUP BY tok),
            vs AS (SELECT cast(count(*) as bigint) v FROM cw),
            lp AS (SELECT cbg.bg,
                          cast(floor(1000000.0 * ln(
                            (cbg.c_bg + 1.0) / (cw.c_w1 + vs.v)) + 0.5)
                            as bigint) logp_x1e6
                   FROM cbg JOIN cw USING (w1), vs),
            r AS (SELECT tfbg.doc_id,
                         cast(sum(tfbg.tf) as bigint) n_bigrams,
                         cast(sum(tfbg.tf * lp.logp_x1e6) as bigint)
                             sum_logp_x1e6
                  FROM tfbg JOIN lp USING (bg)
                  GROUP BY tfbg.doc_id)
            SELECT cast(d.doc_id as bigint) doc_id,
                   cast(coalesce(r.n_bigrams, 0) as bigint) n_bigrams,
                   cast(coalesce(r.sum_logp_x1e6, 0) as bigint)
                       sum_logp_x1e6,
                   cast(CASE WHEN coalesce(r.n_bigrams, 0) = 0 THEN 0
                        ELSE floor(r.sum_logp_x1e6 / r.n_bigrams) END
                        as bigint) mean_logp_x1e6
            FROM documents d LEFT JOIN r USING (doc_id)""",
        # BM25 over the X5 query words: idf rounded once per term, all
        # other factors identical-order IEEE division/multiplication.
        "doc_bm25_topk": f"""
            WITH base AS (
              SELECT cast(doc_id as bigint) doc_id,
                     cast(len(regexp_extract_all(lower(text), '\\w+'))
                          as bigint) dl,
                     unnest(regexp_extract_all(lower(text), '\\w+')) token
              FROM documents),
            f AS (SELECT * FROM base
                  WHERE token IN {tuple(sorted(set(KEYWORD_QUERY_WORDS)))}),
            tf AS (SELECT doc_id, dl, token,
                          cast(count(*) as bigint) tf
                   FROM f GROUP BY doc_id, dl, token),
            dfq AS (SELECT token, cast(count(*) as bigint) df
                    FROM tf GROUP BY token),
            st AS (SELECT cast(count(*) as bigint) n_docs,
                          cast(sum(len(regexp_extract_all(lower(text),
                               '\\w+'))) as bigint) sum_dl
                   FROM documents),
            idf AS (SELECT token,
                           cast(floor(1000000.0 * ln(
                             (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)
                             + 1.0) + 0.5) as bigint) idf_x1e6,
                           st.sum_dl / st.n_docs avgdl
                    FROM dfq, st),
            sc AS (SELECT tf.doc_id,
                          cast(sum(cast(floor(
                            idf.idf_x1e6 * (tf.tf * {1.2 + 1.0})
                            / (tf.tf + 1.2 * (1.0 - 0.75
                               + 0.75 * tf.dl / idf.avgdl))
                            + 0.5) as bigint)) as bigint) bm25_x1e6
                   FROM tf JOIN idf USING (token)
                   GROUP BY tf.doc_id),
            r AS (SELECT *, row_number() OVER (ORDER BY bm25_x1e6 DESC,
                                               doc_id ASC) rnk
                  FROM sc)
            SELECT cast(rnk as bigint) AS "rank", doc_id, bm25_x1e6
            FROM r WHERE rnk <= 20""",
        # CCNet-style unigram log-prob: ln p rounded once per token,
        # per-doc integer sums, exact-integer floored mean.
        "doc_unigram_logprob": rf"""
            WITH {_TOKEN_TF},
            c AS (SELECT token, cast(sum(tf) as bigint) cnt
                  FROM tf GROUP BY token),
            tot AS (SELECT cast(sum(cnt) as bigint) n_total FROM c),
            lp AS (SELECT token,
                          cast(floor(1000000.0 * ln(cnt / tot.n_total)
                               + 0.5) as bigint) logp_x1e6
                   FROM c, tot),
            r AS (SELECT tf.doc_id,
                         cast(sum(tf.tf) as bigint) n_tokens,
                         cast(sum(tf.tf * lp.logp_x1e6) as bigint)
                             sum_logp_x1e6
                  FROM tf JOIN lp USING (token)
                  GROUP BY tf.doc_id)
            SELECT cast(d.doc_id as bigint) doc_id,
                   cast(coalesce(r.n_tokens, 0) as bigint) n_tokens,
                   cast(coalesce(r.sum_logp_x1e6, 0) as bigint)
                       sum_logp_x1e6,
                   cast(CASE WHEN coalesce(r.n_tokens, 0) = 0 THEN 0
                        ELSE floor(r.sum_logp_x1e6 / r.n_tokens) END
                        as bigint) mean_logp_x1e6
            FROM documents d LEFT JOIN r USING (doc_id)""",
        # DSIR importance weights: hashed unigram+bigram buckets (same
        # md5-prefix hash), add-1 smoothed target/raw estimates, ln
        # computed division-first in the identical order so doubles are
        # correctly rounded the same way; one 1e6-grid round per BUCKET,
        # integer sums per doc.
        "corpus_dsir_weights": f"""
            WITH raw AS (SELECT doc_id, text FROM documents
                         WHERE doc_id % 31 <> 0),
            {_dsir_sql("raw")}
            SELECT * FROM wts""",
        # Pipeline v4: boilerplate strip → Gopher gate → A-ES sample,
        # every stage restated from its certified fragment.
        "corpus_pipeline_v4": f"""
            WITH {_bp_ctes()},
            bset AS (SELECT coalesce(list(line), []) bls FROM bp),
            cleaned AS (
              SELECT doc_id,
                     coalesce(array_to_string(list_filter(
                       string_split(text, chr(10)),
                       x -> NOT list_contains(bls, trim(lower(x)))),
                       chr(10)), '') AS text
              FROM seeded, bset),
            gated AS ({_gated_sql("cleaned")})
            {_aes_sql("gated")}
            ORDER BY key_x1e6 DESC, doc_id ASC LIMIT 50""",
        # Product quantization: generated per-subspace twins.
        "emb_pq_encode": _pq_sql(),
        "ann_pq_adc_topk": _pq_adc_sql(),
        "ann_ivfpq_adc_topk": _ivfpq_adc_sql(),
        "ann_ivfpq_residual_topk": _ivfpq_residual_adc_sql(),
        # MinHash-LSH recall vs the exact Jaccard pair set (shared
        # shingle/jaccard/signature fragments; LEFT JOIN counts misses).
        "dedup_minhash_recall": f"""
            WITH {_SHINGLES},
            {_MINHASH_CANDS},
            l AS (SELECT cand.da, cand.db
                  FROM cand JOIN jac ON cand.da = jac.da AND cand.db = jac.db
                  WHERE jac.jacc_x1000 >= 100),
            e AS (SELECT da, db FROM jac WHERE jacc_x1000 >= 100)
            SELECT cast(count(*) as bigint) n_true_pairs,
                   cast(sum(CASE WHEN l.da IS NOT NULL THEN 1 ELSE 0 END)
                        as bigint) n_recalled,
                   cast(floor(1000000.0
                        * sum(CASE WHEN l.da IS NOT NULL THEN 1 ELSE 0 END)
                        / count(*)) as bigint) recall_x1e6
            FROM e LEFT JOIN l ON e.da = l.da AND e.db = l.db""",
        # A-ES weighted sampling: same md5 coin, division-first ln on
        # the 1e6 grid, top-k with doc_id tiebreak.
        "corpus_sample_weighted": f"""
            {_aes_sql("documents")}
            ORDER BY key_x1e6 DESC, doc_id ASC LIMIT 100""",
        "corpus_sample_weighted_stratified": f"""
            WITH kx AS ({_aes_sql("documents", "source, ")})
            SELECT source, doc_id, n_tokens, key_x1e6,
                   cast(row_number() OVER (
                     PARTITION BY source
                     ORDER BY key_x1e6 DESC, doc_id ASC) as bigint) rk
            FROM kx
            QUALIFY rk <= 20""",
        "doc_quality_deciles": f"""
            WITH b AS (
              SELECT source, cast(doc_id as bigint) doc_id,
                     {_Q_X1E6}
              FROM documents),
            d AS (
              SELECT source, q_x1e6,
                     ntile(10) OVER (PARTITION BY source
                                     ORDER BY q_x1e6 ASC, doc_id ASC)
                         decile
              FROM b)
            SELECT source, cast(decile as bigint) decile,
                   cast(count(*) as bigint) n_docs,
                   cast(min(q_x1e6) as bigint) min_q_x1e6,
                   cast(max(q_x1e6) as bigint) max_q_x1e6,
                   cast(sum(q_x1e6) as bigint) sum_q_x1e6
            FROM d GROUP BY source, decile""",
        "doc_quality_decile_bounds": f"""
            WITH d AS (
              SELECT source, {_Q_X1E6}
              FROM documents),
            bo AS (
              SELECT source,
                     cast(floor(quantile_cont(q_x1e6, 0.1)) as bigint) b1,
                     cast(floor(quantile_cont(q_x1e6, 0.2)) as bigint) b2,
                     cast(floor(quantile_cont(q_x1e6, 0.3)) as bigint) b3,
                     cast(floor(quantile_cont(q_x1e6, 0.4)) as bigint) b4,
                     cast(floor(quantile_cont(q_x1e6, 0.5)) as bigint) b5,
                     cast(floor(quantile_cont(q_x1e6, 0.6)) as bigint) b6,
                     cast(floor(quantile_cont(q_x1e6, 0.7)) as bigint) b7,
                     cast(floor(quantile_cont(q_x1e6, 0.8)) as bigint) b8,
                     cast(floor(quantile_cont(q_x1e6, 0.9)) as bigint) b9
              FROM d GROUP BY source)
            SELECT d.source,
                   cast(1 + CASE WHEN d.q_x1e6 > bo.b1 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b2 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b3 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b4 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b5 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b6 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b7 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b8 THEN 1 ELSE 0 END + CASE WHEN d.q_x1e6 > bo.b9 THEN 1 ELSE 0 END as bigint) decile,
                   cast(count(*) as bigint) n_docs
            FROM d JOIN bo ON bo.source = d.source
            GROUP BY d.source, decile""",
        # Token entropy: H = ln N − (Σ n·ln n)/N, every term floored on
        # the 1e6 grid before the order-independent integer sum.
        "corpus_token_entropy": r"""
            WITH tf AS (
              SELECT u.t token, cast(count(*) as bigint) n
              FROM documents,
                   unnest(regexp_extract_all(lower(text), '\w+')) u(t)
              GROUP BY u.t),
            a AS (SELECT cast(sum(n) as bigint) n_tokens,
                         cast(count(*) as bigint) vocab_size,
                         cast(sum(cast(floor(1000000.0 * n * ln(n) + 0.5)
                                       as bigint)) as bigint)
                             sum_nlogn_x1e6
                  FROM tf)
            SELECT n_tokens, vocab_size, sum_nlogn_x1e6,
                   cast(floor(1000000.0 * ln(n_tokens) + 0.5)
                        - floor(sum_nlogn_x1e6 / n_tokens) as bigint)
                       entropy_x1e6
            FROM a""",
        "corpus_bpe_pairs": r"""
            WITH words AS (
              SELECT unnest(regexp_extract_all(lower(text), '\w+')) w
              FROM documents),
            wt AS (SELECT w, count(*) n FROM words GROUP BY w),
            pairs AS (
              SELECT substring(w, cast(i as int), 2) pair, n
              FROM wt, unnest(generate_series(1, length(w) - 1)) t(i)
              WHERE length(w) >= 2)
            SELECT pair, cast(sum(n) as bigint) pair_count
            FROM pairs GROUP BY pair
            ORDER BY pair_count DESC, pair ASC LIMIT 50""",
        "corpus_bpe_encode": _bpe_encode_sql(3),
        "corpus_bpe_merge2": r"""
            WITH words AS (
              SELECT unnest(regexp_extract_all(lower(text), '\w+')) w
              FROM documents),
            wt AS (SELECT array_to_string(regexp_extract_all(w, '.'), ' ')
                       sw, count(*) n
                   FROM words GROUP BY w),
            p1 AS (
              SELECT sy[i] || ' ' || sy[i+1] pair
              FROM (SELECT string_split(sw, ' ') sy, n FROM wt) t,
                   unnest(generate_series(1, len(sy) - 1)) u(i)
              GROUP BY pair ORDER BY sum(n) DESC, pair ASC LIMIT 1),
            merged AS (
              SELECT replace(wt.sw, p1.pair, replace(p1.pair, ' ', '')) mw,
                     wt.n
              FROM wt, p1)
            SELECT sy[i] || ' ' || sy[i+1] pair,
                   cast(sum(n) as bigint) pair_count
            FROM (SELECT string_split(mw, ' ') sy, n FROM merged) t,
                 unnest(generate_series(1, len(sy) - 1)) u(i)
            GROUP BY pair
            ORDER BY pair_count DESC, pair ASC LIMIT 30""",
        # Per-turn DOM link-density telemetry: same regexes over the raw
        # transcript text, html turns selected via the golden's kind.
        "turn_link_density": f"""
            WITH h AS (
              SELECT t.conv_id, t.turn_idx, t.text
              FROM read_parquet('{_tp}') t
              JOIN read_parquet('{_g("extract")}') g
                USING (conv_id, turn_idx)
              WHERE g.kind = 'html')
            SELECT conv_id, turn_idx,
                   cast(len(regexp_extract_all(text, '<[^>]*>'))
                        as bigint) n_tags,
                   cast(length(regexp_replace(text, '<[^>]*>', '', 'g'))
                        as bigint) text_chars,
                   cast(coalesce(list_sum(list_transform(
                        regexp_extract_all(text, '(?is)<a[^>]*>(.*?)</a>', 1),
                        x -> length(regexp_replace(x, '<[^>]*>', '', 'g')))),
                        0) as bigint) anchor_chars,
                   cast(CASE WHEN length(regexp_replace(text, '<[^>]*>', '',
                                                        'g')) > 0
                        THEN floor(1000000.0 * coalesce(list_sum(
                             list_transform(
                               regexp_extract_all(text,
                                   '(?is)<a[^>]*>(.*?)</a>', 1),
                               x -> length(regexp_replace(x, '<[^>]*>', '',
                                                          'g')))), 0)
                             / length(regexp_replace(text, '<[^>]*>', '',
                                                     'g')))
                        ELSE 0 END as bigint) link_density_x1e6
            FROM h""",
        # Per-source curation telemetry (exact-dup share via md5 group
        # sizes; quality = per-doc floored x1e6 ints so means are exact).
        "corpus_source_stats": f"""
            WITH b AS (
              SELECT source, lang, md5(text) h,
                     cast(length(text) as bigint) n_chars,
                     {_Q_X1E6}
              FROM documents),
            g AS (SELECT h, cast(count(*) as bigint) group_sz
                  FROM b GROUP BY h)
            SELECT source, cast(count(*) as bigint) n_docs,
                   cast(count(distinct lang) as bigint) n_langs,
                   cast(sum(n_chars) as bigint) sum_chars,
                   cast(sum(CASE WHEN g.group_sz > 1 THEN 1 ELSE 0 END)
                        as bigint) n_dup_docs,
                   cast(floor(sum(q_x1e6) / cast(count(*) as double))
                        as bigint) mean_quality_x1e6
            FROM b JOIN g USING (h) GROUP BY source""",
        # A2-variant agreement over the v1/v3 goldens.
        "extract_variant_agreement": f"""
            SELECT cast(count(*) as bigint) n_turns,
                   cast(sum(CASE WHEN a.extracted_text = b.extracted_text
                            THEN 1 ELSE 0 END) as bigint) n_equal,
                   cast(sum(abs(length(a.extracted_text)
                                - length(b.extracted_text))) as bigint)
                       sum_len_delta
            FROM read_parquet('{_g("boxes_v1")}') a
            JOIN read_parquet('{_g("boxes_v3")}') b
              USING (conv_id, turn_idx)""",
        # CCNet frequent-line boilerplate: detection (the gated set)…
        "corpus_boilerplate_lines": f"""
            WITH {_bp_ctes()}
            SELECT line, doc_freq FROM bp""",
        # …and application (array_filter of the set per doc).
        "doc_strip_boilerplate": f"""
            WITH {_bp_ctes()},
            bset AS (SELECT coalesce(list(line), []) bls FROM bp),
            sdoc AS (SELECT doc_id, text,
                            string_split(text, chr(10)) ls FROM seeded),
            kk AS (SELECT doc_id, text, ls,
                          list_filter(ls, x -> NOT list_contains(
                              bls, trim(lower(x)))) kept
                   FROM sdoc, bset)
            SELECT cast(doc_id as bigint) doc_id,
                   cast(len(ls) as bigint) n_lines,
                   cast(len(kept) as bigint) n_kept_lines,
                   cast(length(text) as bigint) chars_in,
                   cast(length(coalesce(array_to_string(kept, chr(10)), ''))
                        as bigint) chars_out,
                   coalesce(array_to_string(kept, chr(10)), '') clean_text
            FROM kk""",
        # Transcript-native role/tool analytics (read the same
        # deterministic t2 transcripts parquet the Spark side builds).
        "conversation_role_transitions": f"""
            WITH x AS (
              SELECT role, lag(role) OVER (
                  PARTITION BY conv_id ORDER BY turn_idx) prev_role
              FROM read_parquet('{_tp}'))
            SELECT prev_role, role, cast(count(*) as bigint) n_transitions
            FROM x WHERE prev_role IS NOT NULL
            GROUP BY prev_role, role""",
        "conversation_tool_stats": f"""
            SELECT role, cast(count(*) as bigint) n_turns,
                   cast(sum(CASE WHEN tool <> '' THEN 1 ELSE 0 END)
                        as bigint) n_tool_turns,
                   cast(sum(length(tool)) as bigint) sum_tool_chars,
                   cast(sum(length(text)) as bigint) sum_text_chars
            FROM read_parquet('{_tp}') GROUP BY role""",
        # TPC-H wave 2 (Q6/Q10/Q13/Q18 shapes; money = per-row floored
        # cents; quantities floored per row — DuckDB casts round while
        # Spark casts truncate, floor() is the dialect-safe form).
        "tpch_forecast_revenue": r"""
            SELECT cast(count(*) as bigint) n_rows,
                   cast(sum(cast(floor(l_extendedprice * l_discount
                        * 100.0 + 0.5) as bigint)) as bigint) revenue_c
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24.0""",
        "tpch_returned_items": r"""
            SELECT cast(c.c_custkey as bigint) c_custkey, c.c_name,
                   n.n_name,
                   cast(sum(cast(floor(l.l_extendedprice
                        * (1.0 - l.l_discount) * 100.0 + 0.5) as bigint))
                        as bigint) revenue_c
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1995-07-01'
              AND o.o_orderdate < TIMESTAMP '1996-01-01'
            GROUP BY c.c_custkey, c.c_name, n.n_name
            ORDER BY revenue_c DESC, c_custkey ASC
            LIMIT 20""",
        "tpch_custdist": r"""
            WITH per AS (
              SELECT c.c_custkey,
                     cast(count(o.o_custkey) as bigint) c_count
              FROM customer c
              LEFT JOIN orders o ON o.o_custkey = c.c_custkey
              GROUP BY c.c_custkey)
            SELECT c_count, cast(count(*) as bigint) custdist
            FROM per GROUP BY c_count""",
        "tpch_large_orders": r"""
            WITH big AS (
              SELECT l_orderkey,
                     cast(sum(cast(floor(l_quantity) as bigint)) as bigint)
                         sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(cast(floor(l_quantity) as bigint)) > 250)
            SELECT cast(c.c_custkey as bigint) c_custkey, c.c_name,
                   cast(o.o_orderkey as bigint) o_orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d') o_orderdate,
                   cast(floor(o.o_totalprice * 100.0 + 0.5) as bigint)
                       total_c,
                   big.sum_qty
            FROM big
            JOIN orders o ON big.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey""",
        "tpch_priority_returns": r"""
            SELECT o_orderpriority, cast(count(*) as bigint) order_count
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority""",
        "tpch_quiet_big_accounts": r"""
            WITH c AS (
              SELECT c_custkey, c_nationkey,
                     cast(floor(c_acctbal * 100.0 + 0.5) as bigint) bal_c
              FROM customer),
            th AS (
              SELECT cast(sum(bal_c) // count(*) as bigint) threshold_c
              FROM c WHERE bal_c > 0)
            SELECT c_nationkey, cast(count(*) as bigint) numcust,
                   cast(sum(bal_c) as bigint) total_bal_c
            FROM c, th
            WHERE c.bal_c > th.threshold_c
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderpriority = '1-URGENT')
            GROUP BY c_nationkey""",
        "tpch_small_qty_revenue": r"""
            WITH pb AS (
              SELECT p_partkey FROM part WHERE p_brand = 'Brand#12'),
            li AS (
              SELECT l.l_partkey,
                     cast(floor(l.l_quantity) as bigint) qty,
                     cast(floor(l.l_extendedprice * 100.0 + 0.5) as bigint)
                         price_c
              FROM lineitem l
              WHERE EXISTS (SELECT 1 FROM pb
                            WHERE pb.p_partkey = l.l_partkey)),
            st AS (
              SELECT l_partkey, count(*) cnt,
                     cast(sum(qty) as bigint) sq
              FROM li GROUP BY l_partkey)
            SELECT cast(count(*) as bigint) n_lines,
                   cast(sum(li.price_c) as bigint) total_c
            FROM li JOIN st ON li.l_partkey = st.l_partkey
            WHERE 5 * li.qty * st.cnt < st.sq""",
        "tpch_top_supplier": r"""
            WITH rev AS (
              SELECT l_suppkey,
                     cast(sum(cast(floor(l_extendedprice
                                         * (1 - l_discount) * 100.0 + 0.5)
                                   as bigint)) as bigint) total_revenue_c
              FROM lineitem
              WHERE l_shipdate >= timestamp '1996-01-01'
                AND l_shipdate <  timestamp '1996-04-01'
              GROUP BY l_suppkey),
            mx AS (SELECT max(total_revenue_c) m FROM rev)
            SELECT cast(s.s_suppkey as bigint) s_suppkey, s.s_name,
                   rev.total_revenue_c
            FROM rev, mx
            JOIN supplier s ON s.s_suppkey = rev.l_suppkey
            WHERE rev.total_revenue_c = mx.m""",
        "tpch_profit_by_nation": r"""
            SELECT n.n_name nation,
                   cast(year(o.o_orderdate) as bigint) o_year,
                   cast(count(*) as bigint) n_lines,
                   cast(sum(cast(floor(l.l_extendedprice
                                       * (1 - l.l_discount) * 100.0 + 0.5)
                                 as bigint)) as bigint) profit_c
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE p.p_name LIKE '%red%'
            GROUP BY nation, o_year""",
        "tpch_disjunctive_revenue": r"""
            SELECT cast(count(*) as bigint) n_lines,
                   cast(sum(cast(floor(l.l_extendedprice
                                       * (1 - l.l_discount) * 100.0 + 0.5)
                                 as bigint)) as bigint) revenue_c
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 20 AND 30)""",
        "tpch_waiting_suppliers": r"""
            WITH lo AS (
              SELECT l.l_orderkey, l.l_suppkey,
                     cast(l.l_shipdate as date) l_d,
                     cast(o.o_orderdate as date) o_d
              FROM lineitem l
              JOIN orders o ON o.o_orderkey = l.l_orderkey
              WHERE o.o_orderstatus = 'F'),
            l1 AS (SELECT * FROM lo WHERE l_d > o_d + 60)
            SELECT s.s_name, cast(count(*) as bigint) numwait
            FROM l1
            JOIN supplier s ON s.s_suppkey = l1.l_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM l1 l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s.s_name
            ORDER BY numwait DESC, s.s_name
            LIMIT 10""",
        "tpch_cheapest_supplier": r"""
            WITH ps AS (
              SELECT p.p_partkey, p.p_brand, l.l_suppkey,
                     min(cast(floor(l.l_extendedprice / l.l_quantity
                                    * 100.0 + 0.5) as bigint)) supp_unit_c
              FROM lineitem l
              JOIN part p ON p.p_partkey = l.l_partkey
              WHERE p.p_size <= 10
              GROUP BY p.p_partkey, p.p_brand, l.l_suppkey),
            r AS (SELECT *, row_number() OVER (
                      PARTITION BY p_partkey
                      ORDER BY supp_unit_c, l_suppkey) rn
                  FROM ps)
            SELECT cast(p_partkey as bigint) p_partkey, p_brand,
                   cast(l_suppkey as bigint) best_suppkey,
                   cast(supp_unit_c as bigint) best_unit_c
            FROM r WHERE rn = 1""",
        "tpch_part_supplier_counts": r"""
            SELECT p.p_brand, p.p_type, p.p_size,
                   cast(count(DISTINCT l.l_suppkey) as bigint) supplier_cnt
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand <> 'Brand#1'
              AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
              AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                      WHERE s_acctbal < 0)
            GROUP BY p.p_brand, p.p_type, p.p_size""",
        "tpch_nation_volume": r"""
            WITH s AS (
              SELECT s_suppkey, n_name supp_nation
              FROM supplier s JOIN nation n
                ON n.n_nationkey = s.s_nationkey),
            c AS (
              SELECT c_custkey, n_name cust_nation
              FROM customer c JOIN nation n
                ON n.n_nationkey = c.c_nationkey)
            SELECT s.supp_nation, c.cust_nation,
                   cast(year(l.l_shipdate) as bigint) l_year,
                   cast(count(*) as bigint) n_lines,
                   cast(sum(cast(floor(l.l_extendedprice
                                       * (1 - l.l_discount) * 100.0 + 0.5)
                                 as bigint)) as bigint) revenue_c
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN s ON s.s_suppkey = l.l_suppkey
            JOIN c ON c.c_custkey = o.o_custkey
            WHERE s.supp_nation IN ('NATION_0', 'NATION_1')
              AND c.cust_nation IN ('NATION_0', 'NATION_1')
              AND s.supp_nation != c.cust_nation
              AND l.l_shipdate >= timestamp '1995-01-01'
              AND l.l_shipdate <  timestamp '1997-01-01'
            GROUP BY s.supp_nation, c.cust_nation, l_year""",
        "tpch_market_share": r"""
            WITH s AS (
              SELECT s_suppkey, n_name supp_nation
              FROM supplier s JOIN nation n
                ON n.n_nationkey = s.s_nationkey),
            a AS (
              SELECT cast(year(l.l_shipdate) as bigint) l_year,
                     cast(sum(CASE WHEN s.supp_nation = 'NATION_3'
                                   THEN cast(floor(l.l_extendedprice
                                        * (1 - l.l_discount) * 100.0 + 0.5)
                                        as bigint)
                                   ELSE 0 END) as bigint) nation_rev_c,
                     cast(sum(cast(floor(l.l_extendedprice
                                  * (1 - l.l_discount) * 100.0 + 0.5)
                                   as bigint)) as bigint) total_rev_c
              FROM lineitem l
              JOIN s ON s.s_suppkey = l.l_suppkey
              GROUP BY l_year)
            SELECT l_year, nation_rev_c, total_rev_c,
                   cast(floor(1000000.0 * nation_rev_c / total_rev_c)
                        as bigint) share_x1e6
            FROM a""",
        "events_retention": r"""
            WITH daily AS (
              SELECT DISTINCT user_id, cast(ts as date) d FROM events)
            SELECT strftime(a.d, '%Y-%m-%d') AS "day",
                   cast(count(*) as bigint) n_active,
                   cast(sum(CASE WHEN b.user_id IS NOT NULL
                                 THEN 1 ELSE 0 END) as bigint) n_retained,
                   cast(floor(1000000.0
                              * sum(CASE WHEN b.user_id IS NOT NULL
                                         THEN 1 ELSE 0 END)
                              / count(*)) as bigint) retention_x1e6
            FROM daily a
            LEFT JOIN daily b ON b.user_id = a.user_id
                             AND b.d = a.d + 1
            GROUP BY a.d""",
        "doc_char_entropy": r"""
            WITH d AS (SELECT doc_id, regexp_extract_all(text, '.') cs
                       FROM documents),
            e AS (SELECT doc_id, len(cs) n,
                    list_sum(list_transform(list_distinct(cs),
                      c -> cast(floor(1000000.0
                             * len(list_filter(cs, x -> x = c))
                             * ln(len(list_filter(cs, x -> x = c))))
                           as bigint))) s
                  FROM d WHERE len(cs) > 0)
            SELECT cast(doc_id as bigint) doc_id,
                   cast(n as bigint) n_chars,
                   cast(s as bigint) sum_clogc_x1e6,
                   cast(cast(floor(1000000.0 * ln(n)) as bigint) - s // n
                        as bigint) entropy_x1e6
            FROM e""",
        "events_trailing_value": r"""
            WITH daily AS (
              SELECT event_type,
                     cast(epoch(cast(cast(ts as date) as timestamp))
                          // 86400 as bigint) d,
                     cast(sum(cast(floor(value * 100.0 + 0.5) as bigint))
                          as bigint) day_value_c,
                     cast(count(*) as bigint) n_events
              FROM events GROUP BY event_type, d)
            SELECT event_type, d, day_value_c,
                   cast(sum(day_value_c) OVER w as bigint) t3_value_c,
                   cast(sum(n_events) OVER w as bigint) t3_events
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d
                         RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)""",
        "events_funnel": r"""
            WITH ev AS (SELECT user_id, event_type, ts FROM events
                        WHERE ts < timestamp '2024-01-02'),
            u AS (SELECT user_id,
                         min(CASE WHEN event_type = 'view' THEN ts END) v
                  FROM ev GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.ts) c
                  FROM ev e JOIN u ON u.user_id = e.user_id
                  WHERE e.event_type = 'click' AND u.v IS NOT NULL
                    AND e.ts > u.v
                  GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.ts) p
                  FROM ev e JOIN c ON c.user_id = e.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.c
                  GROUP BY e.user_id)
            SELECT cast(count(*) as bigint) n_users,
                   cast(sum(CASE WHEN u.v IS NOT NULL THEN 1 ELSE 0 END)
                        as bigint) n_view,
                   cast(count(c.user_id) as bigint) n_view_click,
                   cast(count(p.user_id) as bigint) n_full_funnel
            FROM u LEFT JOIN c ON c.user_id = u.user_id
                   LEFT JOIN p ON p.user_id = u.user_id""",
        # (every queries() entry now has an oracle twin: chunks_modern
        # reads the pyref golden parquet; ann_lsh_topk restates the
        # deterministic hyperplane signature in SQL.)
    }
    # dedup_clusters_star is a registry alias of dedup_clusters (one
    # star-contraction implementation), so it shares the oracle text.
    oracles["dedup_clusters_star"] = oracles["dedup_clusters"]
    return oracles
