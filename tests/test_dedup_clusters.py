"""Connected components over near-dup pair graphs.

The driver oracle (`dedup_clusters` vs a DuckDB recursive-CTE transitive
closure) proves value equality on the corpus; these tests pin the
algorithmic properties of the star-contraction implementation:
convergence on chains (diameter > 1 round, and O(log n) rounds on a long
path), component separation, the loud non-convergence failure, release
of the per-round checkpoints, and a union-find cross-check on random
graphs.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ocr_image_to_text_spark.dedup import connected_components


def _cc_bruteforce(edges, nodes):
    """Union-find ground truth (pure Python)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id of the component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long")


def test_chain_needs_multiple_rounds(spark):
    """A 12-edge chain has diameter 12: the component min must reach
    the whole chain, which one contraction round cannot do."""
    edges = [(i, i + 1) for i in range(12)]
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components(_pairs_df(spark, edges)).collect()}
    assert got == {(i, 0) for i in range(13)}


def test_two_components_stay_separate(spark):
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)]
    got = dict((r.doc_id, r.cluster_id)
               for r in connected_components(_pairs_df(spark, edges)).collect())
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(60))
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in (rng.sample(nodes, 2) for _ in range(55))})
    expect = _cc_bruteforce(edges, {n for e in edges for n in e})
    got = dict((r.doc_id, r.cluster_id)
               for r in connected_components(_pairs_df(spark, edges)).collect())
    assert got == expect


def test_nonconvergence_is_loud(spark):
    """Star contraction needs more than two rounds on a 6-edge chain
    (convergence is one more round with an unchanged edge set), so
    max_rounds=2 must raise rather than return unconverged labels."""
    edges = [(i, i + 1) for i in range(6)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs_df(spark, edges), max_rounds=2)


def test_empty_pairs_empty_clusters(spark):
    df = _pairs_df(spark, []).filter(F.lit(False))
    assert connected_components(df).count() == 0


def test_star_contraction_chain_in_log_rounds(spark):
    """The algorithm's raison d'être: on a 64-node PATH (diameter 63),
    where hash-min label propagation would need ~63 rounds, star
    contraction must converge within max_rounds=10 ≈ O(log n) — and
    still label every node with the component min."""
    edges = [(i, i + 1) for i in range(63)]
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components(
               _pairs_df(spark, edges), max_rounds=10).collect()}
    assert got == {(i, 0) for i in range(64)}


def test_star_contraction_random_graph_with_chain_matches_union_find(spark):
    """Union-find ground truth on a random graph with several components
    plus an isolated chain component."""
    rng = random.Random(7)
    nodes = list(range(80))
    edges = sorted({(min(a, b), max(a, b))
                    for a, b in (rng.sample(nodes, 2) for _ in range(45))})
    edges += [(200 + i, 201 + i) for i in range(9)]  # a chain component
    expect = _cc_bruteforce(edges, {n for e in edges for n in e})
    got = dict((r.doc_id, r.cluster_id)
               for r in connected_components(_pairs_df(spark, edges)).collect())
    assert got == expect


def test_star_contraction_releases_checkpoints(spark):
    """Every round's localCheckpoint RDDs are freed: after the consumer
    materializes and release_caches() runs, nothing stays persistent."""
    from ocr_image_to_text_spark.cachectl import release_caches

    edges = [(i, i + 1) for i in range(20)]
    connected_components(_pairs_df(spark, edges)).collect()
    release_caches()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def _word_shingles(text):
    """Word 3-gram shingle set (the dedup.shingle_array spec)."""
    ws = text.split()
    return {" ".join(ws[i:i + 3]) for i in range(max(len(ws) - 2, 1))}


def test_dedup_apply_minhash_without_near_duplicates(spark, tmp_path):
    """A corpus with no near-duplicate pair has no components. The
    summary must still say n_dropped = 0 and n_kept = n_docs (the empty
    SUM is not NULL), on the Spark side and in the DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entrymod
    from ocr_image_to_text_spark import queries as q

    texts = [" ".join(f"w{i}x{j}" for j in range(12)) for i in range(6)]
    shs = [_word_shingles(t) for t in texts]
    # pure-Python reference: no pair reaches the 0.1 Jaccard threshold
    assert all(len(a & b) / len(a | b) < 0.1
               for i, a in enumerate(shs) for b in shs[i + 1:])
    n = len(texts)
    want = (n, 0, 0, n)

    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(path)
    cols = ["n_docs", "n_near_dup_docs", "n_dropped", "n_kept"]
    got = q.dedup_apply_minhash(spark, str(tmp_path)).select(*cols).collect()
    assert [tuple(r) for r in got] == [want]

    con = duckdb.connect()
    con.sql("create view documents as select * from "
            f"read_parquet('{path}/*.parquet')")
    oracle = con.sql(entrymod.oracle_sql()["dedup_apply_minhash"])
    ocols = [d[0] for d in oracle.description]
    assert [tuple(r[ocols.index(c)] for c in cols)
            for r in oracle.fetchall()] == [want]
