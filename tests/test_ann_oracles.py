"""The ANN family against its DuckDB twins: exact cosine, LSH, IVF, IVF
recall, SemDeDup, PQ and IVFPQ each equal `oracle_sql()[name]` — the
same columns and, ignoring order, the same rows (the comparison
tools/check_queries.py makes). The dedup and curation queries whose
twins are built from the same shared SQL fragments get the same check."""

from __future__ import annotations

import os

import pytest

from test_boilerplate import SF, needs_testdata

ANN_QUERIES = [
    "ann_cosine_topk", "emb_dup_pairs", "ann_lsh_topk", "ann_ivf_topk",
    "ann_ivf_lloyd_topk", "ann_ivf_recall", "semdedup_prune",
    "emb_pq_encode", "ann_pq_adc_topk", "ann_ivfpq_adc_topk",
    "ann_ivfpq_residual_topk",
]

# Twins built from the shared MinHash, SimHash, components, Gopher, dedup,
# packing, A-ES and DSIR fragments.
CURATION_QUERIES = [
    "dedup_clusters", "dedup_clusters_star", "dedup_apply_minhash",
    "corpus_dsir_weights", "corpus_pack_sequences",
    "corpus_curation_pipeline", "corpus_pipeline_v2", "corpus_pipeline_v3",
    "corpus_pipeline_v4", "corpus_sample_weighted",
    "corpus_sample_weighted_stratified", "corpus_decontaminate_anti",
]


def _by_name(cols, rows):
    """Rows with their columns in name order, sorted (NULLs last)."""
    order = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(r[i] for i in order) for r in rows),
                  key=lambda r: tuple((v is None, v) for v in r))


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.sql(f"create view {t} as select * from read_parquet("
                f"'{os.path.join(SF, t + '.parquet')}')")
    yield con
    con.close()


@needs_testdata
@pytest.mark.parametrize("name", ANN_QUERIES + CURATION_QUERIES)
def test_ann_query_matches_duckdb_oracle(spark, duck, name):
    import __spark_entry__ as entrymod
    from ocr_image_to_text_spark.cachectl import release_caches

    sdf = entrymod.queries()[name](spark, SF)
    try:
        scols, srows = sdf.columns, sdf.collect()
    finally:
        release_caches()
    rel = duck.sql(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert srows, "query returned no rows"
    assert _by_name(scols, srows) == _by_name(ocols, orows)
