"""Embedding similarity search over the `embeddings` table.

Brute-force cosine top-k is the correctness baseline (and the DuckDB-oracle
query); the LSH-bucketed variant is the 100 TB scale path: random
hyperplanes derived deterministically from md5 (no RNG), bucket self-join
instead of a cross join, then exact re-rank within buckets.

Cosine is computed JVM-side as a static codegen sum chain (`_dot` — no
Python, no interpreted higher-order functions), cast to double, and rounded
to 9 decimals before ranking so the Spark and DuckDB float paths order
identically (ties broken by neighbor id).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .cachectl import tracked_cache


EMB_DIM = 64  # embeddings.parquet vector width (TESTDATA.md)


def _dot(a, b, dim: int = EMB_DIM):
    """Sequential-fold dot product as a STATIC codegen chain.

    `F.lit(0.0) + a[0]·b[0] + a[1]·b[1] + …` is the same left-to-right
    IEEE fold as `aggregate(zip_with(a, b, *), 0.0, +)` (and as the
    DuckDB twin's list_sum), but compiles to straight-line arithmetic in
    whole-stage codegen instead of an interpreted higher-order loop —
    measured ~10× on the all-pairs join. Requires the static `dim`.
    """
    acc = F.lit(0.0)
    for d in range(dim):
        acc = acc + a.getItem(d) * b.getItem(d)
    return acc


def with_norm(df: DataFrame, col: str = "embedding", dim: int = EMB_DIM) -> DataFrame:
    e = F.col(col).cast("array<double>")
    # Guard the static-chain width: a mismatched vector would otherwise
    # yield NULL cosines and silently empty results. raise_error keeps the
    # check inside the norm expression so column pruning can't drop it.
    norm = F.when(F.size(F.col("_e")) == dim,
                  F.sqrt(_dot(F.col("_e"), F.col("_e"), dim))) \
        .otherwise(F.raise_error(F.concat(
            F.lit(f"embedding dim != {dim}: got "),
            F.size(F.col("_e")).cast("string"))))
    return df.withColumn("_e", e).withColumn("_norm", norm)


def _normed(emb: DataFrame, dim: int) -> DataFrame:
    """(vec_id, _e, _norm): the frame every cosine search scans."""
    return with_norm(emb, dim=dim).select("vec_id", "_e", "_norm")


def _pq_base(emb: DataFrame) -> DataFrame:
    """The cached (vec_id, _e) frame the PQ family reads several times."""
    return tracked_cache(emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_e")))


def _x1e9(col: str):
    """A 9-decimal rounded double as an exact long (round half up)."""
    return F.floor(F.col(col) * 1e9 + F.lit(0.5)).cast("long")


def _cos_r(ea: str, na: str, eb: str, nb: str, dim: int):
    """Cosine of two normed vectors, rounded to 9 decimals."""
    return F.round(_dot(F.col(ea), F.col(eb), dim)
                   / (F.col(na) * F.col(nb)), 9)


def _query_vecs(base: DataFrame, n_queries: int, *extra) -> DataFrame:
    """The query side of a cosine search: (query_id, _qe, _qnorm, *extra)
    for every vec_id < n_queries."""
    return base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_e").alias("_qe"),
        F.col("_norm").alias("_qnorm"), *extra)


def _cosine_topk(pairs: DataFrame, k: int, dim: int) -> DataFrame:
    """Per-query top-k of candidate pairs (vec_id, _e, _norm) ×
    (query_id, _qe, _qnorm) by rounded cosine, self excluded, ties to the
    smaller neighbor id. Output: (query_id, rank, neighbor_id, cos_x1e9)."""
    scored = (pairs.filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("cos_r", _cos_r("_e", "_norm", "_qe", "_qnorm",
                                          dim)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("query_id").cast("long"), F.col("rank").cast("long"),
                    F.col("vec_id").cast("long").alias("neighbor_id"),
                    _x1e9("cos_r").alias("cos_x1e9")))


def cosine_topk(emb: DataFrame, n_queries: int = 20, k: int = 3,
                dim: int = EMB_DIM) -> DataFrame:
    """Exact top-k neighbors for vec_id < n_queries (self excluded).

    Output: (query_id, rank, neighbor_id, cos_x1e9).
    """
    base = _normed(emb, dim)
    q = _query_vecs(base, n_queries)
    return _cosine_topk(base.crossJoin(F.broadcast(q)), k, dim)


def cosine_dup_pairs(emb: DataFrame, threshold: float = 0.35,
                     n_blocks: int | None = None, dim: int = EMB_DIM) -> DataFrame:
    """Near-duplicate pairs by exact all-pairs cosine — fully distributed
    block join, no driver collect and no full-corpus broadcast.

    Vectors are hashed into B blocks; every unordered block pair (i,j),
    i ≤ j, becomes one equi-join key. A vector in block k is replicated to
    keys (k, j≥k) on the left and (i≤k, k) on the right, so each vector
    pair meets on exactly one key (in-block duplicates removed by the
    vec_a < vec_b filter). Shuffle volume is O(n·B); per-task state is two
    ~n/B vector slices — tune n_blocks to the executor memory budget.

    Exact all-pairs is inherently O(n²) compute at any scale; this
    operator is the exact/verification path, and lsh_bucket_topk's
    hyperplane-bucket join is the approximate path when O(n²) itself is
    unaffordable.

    The cosine is the element-sequential static codegen chain (`_dot`) —
    the same left-to-right IEEE fold as the DuckDB oracle's
    generate_series sum — rounded to 9 decimals before thresholding.
    Output: (vec_a, vec_b, cos_x1e9), vec_a < vec_b.
    """
    spark = emb.sparkSession
    B = n_blocks or min(spark.sparkContext.defaultParallelism, 32)
    base = _normed(emb, dim).withColumn(
        "blk", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int"))
    a = base.select(
        F.col("blk").alias("pi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("pj"),
        F.col("vec_id").alias("vec_a"),
        F.col("_e").alias("_ea"), F.col("_norm").alias("_na"))
    b = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("pi"),
        F.col("blk").alias("pj"),
        F.col("vec_id").alias("vec_b"),
        F.col("_e").alias("_eb"), F.col("_norm").alias("_nb"))
    # Cross-block keys (pi < pj) meet each unordered pair exactly once in
    # arbitrary id order (blocks are hash-assigned); in-block keys (pi ==
    # pj) meet it twice, deduped by the id inequality. The output order is
    # canonicalized afterwards — cosine is symmetric, so the swap is free.
    joined = (
        a.join(b, ["pi", "pj"])
        .filter((F.col("pi") != F.col("pj"))
                | (F.col("vec_a") < F.col("vec_b")))
        .filter(F.col("vec_a") != F.col("vec_b"))
        .withColumn("cos_r", _cos_r("_ea", "_na", "_eb", "_nb", dim))
    )
    return (
        joined.filter(F.col("cos_r") >= threshold)
        .select(F.least("vec_a", "vec_b").alias("vec_a"),
                F.greatest("vec_a", "vec_b").alias("vec_b"),
                _x1e9("cos_r").alias("cos_x1e9"))
    )


def _centroid_dist(dim: int):
    """Squared L2 between `_e` and `_ce`: the same ascending-dimension
    left-assoc fold as the DuckDB twins, rounded to 9 decimals so cell
    assignment can never disagree across engines."""
    acc = F.lit(0.0)
    for d in range(dim):
        t = F.col("_e").getItem(d) - F.col("_ce").getItem(d)
        acc = acc + t * t
    return F.round(acc, 9)


def _assign(base: DataFrame, cent: DataFrame, dim: int):
    """Nearest-centroid assignment: a broadcast cross join of the centroid
    table, then an argmin whose shuffle rows are (vec_id, struct(d, cid))
    — never vectors — with ties to the smaller cid. Returns (ad, asn):
    every (vec_id, cid, d) distance and the (vec_id, cell, dcent)
    assignment."""
    ad = (base.select("vec_id", "_e").crossJoin(F.broadcast(cent))
          .select("vec_id", "cid", _centroid_dist(dim).alias("d")))
    asn = (ad.groupBy("vec_id")
           .agg(F.min(F.struct("d", "cid")).alias("m"))
           .select("vec_id", F.col("m.cid").alias("cell"),
                   F.col("m.d").alias("dcent")))
    return ad, asn


def _probes(ad: DataFrame, n_queries: int, n_probe: int) -> DataFrame:
    """(query_id, cell): the n_probe nearest cells of each vec_id <
    n_queries, ties to the smaller cid."""
    wq = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    return (ad.filter(F.col("vec_id") < n_queries)
            .withColumn("prank", F.row_number().over(wq))
            .filter(F.col("prank") <= n_probe)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("cid").alias("cell")))


def coarse_centroids(base: DataFrame, n_cells: int, dim: int = EMB_DIM,
                     n_iters: int = 0) -> DataFrame:
    """Coarse quantizer centroids: (cid, _ce).

    Seeds are the embeddings of the n_cells smallest vec_ids — fully
    deterministic. `n_iters` Lloyd refinements improve cell balance (the
    thing that bounds the in-cell O(n²) of ivf_topk / semdedup_prune at
    scale): each iteration is one broadcast nearest-centroid assignment
    (argmin shuffles (vec_id, struct) rows, never vectors), one equi-join
    of cell ids back onto the corpus (the same join ivf_topk pays for its
    final assignment), and one per-cell mean whose map-side partials
    reduce to ≤ n_cells × dim longs.

    Cross-engine exactness: a floating mean is summation-order-dependent,
    so means are taken in integer micro-units — sum of floor(e[d]·1e6)
    per cell is an exact long, floor(sum/cnt) is exact in double (both
    operands < 2^53 and a non-integral quotient's fractional part ≥
    1/cnt, far above double epsilon), and the /1e6 rescale is one exact
    IEEE division — so DuckDB reproduces every refined centroid
    bit-for-bit. Cells left empty by an iteration keep their previous
    centroid (k-means convention)."""
    cent = base.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("_e").alias("_ce"))
    for _ in range(n_iters):
        _ad, asn = _assign(base, cent, dim)
        mem = base.select("vec_id", "_e").join(asn, "vec_id")
        sums = mem.groupBy("cell").agg(
            F.count("*").alias("cnt"),
            *[F.sum(F.floor(F.col("_e").getItem(d) * F.lit(1000000.0))
                    .cast("long")).alias(f"s{d}") for d in range(dim)])
        new_ce = F.array(*[
            (F.floor(F.col(f"s{d}") / F.col("cnt")) / F.lit(1000000.0))
            .cast("double") for d in range(dim)])
        refined = sums.select(F.col("cell").alias("cid"),
                              new_ce.alias("_nce"))
        cent = (cent.join(refined, "cid", "left")
                .select("cid", F.coalesce("_nce", "_ce").alias("_ce")))
    return cent


def ivf_topk(emb: DataFrame, n_queries: int = 20, k: int = 3,
             n_cells: int = 16, n_probe: int = 4, dim: int = EMB_DIM,
             n_iters: int = 0) -> DataFrame:
    """IVF-Flat approximate nearest neighbors (Faiss IndexIVFFlat shape):
    coarse quantizer → inverted cells → probe the n_probe nearest cells →
    exact cosine re-rank inside the probed cells.

    Coarse centroids come from `coarse_centroids`: deterministic seeds
    (embeddings of the n_cells smallest vec_ids), optionally refined by
    `n_iters` Lloyd iterations with integer-exact micro-unit means —
    n_iters=0 keeps the seed quantizer (quality is a model boundary),
    n_iters≥1 improves cell balance, the thing that bounds the in-cell
    work at scale. The centroid table is tiny by
    construction (√n cells at corpus scale) and is BROADCAST: assignment
    is a map-side broadcast nested-loop join + a partial-aggregated argmin
    whose shuffle rows are (vec_id, struct(d, cid)) — never the vectors —
    followed by a 1:1 join of cell ids back onto the corpus. (Inlining the
    centroids as codegen literals would make assignment fully map-side,
    but n_cells × dim literal chains blow past janino's method limits and
    fall back to interpreted eval — measured 10× slower than the two
    cheap shuffles.)

    All distances are the same ascending-dimension left-assoc fold as the
    DuckDB twin (list_sum order), rounded to 9 decimals, ties to the
    smaller centroid id — cell assignment can never disagree across
    engines. Approximate by construction: recall < 1 vs cosine_topk when
    a true neighbor lives in an unprobed cell.

    Output: (query_id, rank, neighbor_id, cos_x1e9).
    """
    # base feeds the centroid filter, the assignment cross-join and
    # (via members) BOTH sides of the in-cell self-join — cache it and
    # the assigned frame so the norm fold and the argmin assignment run
    # once each (shared-frame rule; was 18 parquet scans uncached)
    base = tracked_cache(_normed(emb, dim))
    cent = coarse_centroids(base, n_cells, dim, n_iters)
    ad, asn = _assign(base, cent, dim)
    corpus = base.join(asn, "vec_id")
    probes = _probes(ad, n_queries, n_probe)
    qvecs = _query_vecs(base, n_queries)
    return _cosine_topk(
        corpus.join(F.broadcast(probes.join(qvecs, "query_id")), "cell"),
        k, dim)


def ivf_recall(emb: DataFrame, n_queries: int = 20, k: int = 3,
               n_cells: int = 16, n_probe: int = 4, dim: int = EMB_DIM,
               n_iters: int = 0) -> DataFrame:
    """Recall@k of the IVF quantizer against the exact scan — the
    standard ANN quality evaluation (Faiss benchmark convention), run
    entirely engine-side: per query, how many of the exact top-k
    neighbors the probed-cell search returned. The eval itself is one
    equi-join of two k-row-per-query frames plus a per-query count —
    negligible next to either search; at corpus scale you run it on a
    query SAMPLE, which this already is (vec_id < n_queries).

    Output: (query_id, n_hits, recall_x1000)."""
    ex = cosine_topk(emb, n_queries, k, dim).select(
        "query_id", "neighbor_id")
    ap = (ivf_topk(emb, n_queries, k, n_cells, n_probe, dim, n_iters)
          .select("query_id", "neighbor_id")
          .withColumn("hit", F.lit(1)))
    j = ex.join(ap, ["query_id", "neighbor_id"], "left")
    return (j.groupBy("query_id")
            .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
                 .alias("n_hits"))
            .select(F.col("query_id").cast("long"), "n_hits",
                    F.floor(F.lit(1000.0) * F.col("n_hits") / k)
                    .cast("long").alias("recall_x1000")))


def embed_text_py(text: str, dim: int) -> list[float]:
    """Deterministic md5 embedding stand-in for the neural encoder.

    e[d] = int(md5('{d}:' || text)[:8], 16) / 0x7FFFFFFF − 1  — the same
    hash-to-unit-interval construction as the LSH hyperplanes, computable
    identically in Python, Spark SQL and DuckDB. The real encoder is a
    stochastic model boundary (SURVEY §0); retrieval semantics downstream
    of it are what this engine ports.
    """
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{d}:{text}".encode()).hexdigest()
        out.append(int(h[:8], 16) / 0x7FFFFFFF - 1.0)
    return out


def _embed_term(text_col, d: int):
    """One embedding dimension of embed_text_py as a JVM column expr."""
    h = F.md5(F.concat(F.lit(f"{d}:"), text_col))
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return (v / F.lit(2147483647.0)) - F.lit(1.0)


def semdedup_prune(emb: DataFrame, n_cells: int = 16, threshold: float = 0.35,
                   dim: int = EMB_DIM, n_iters: int = 0) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every vector whose cosine similarity to an
    earlier-ordered cluster member reaches the threshold. Following the
    paper's keep-hard choice (keep examples with LOW similarity to the
    centroid), the within-cluster order is distance-to-centroid
    DESCENDING, ties by vec_id; removal checks ALL earlier members (the
    paper's non-iterative upper-triangular formulation), so the kept set
    is order-determined, not chain-dependent.

    Coarse centroids come from the same `coarse_centroids` quantizer as
    ivf_topk (deterministic seeds + optional integer-exact Lloyd
    refinements via n_iters). Scale: with n_cells ≈ √n (the paper's regime) the
    in-cell pairwise join is O(n²/n_cells) — the algorithm's inherent
    cost, paid as ONE equi-join shuffle on the cell id; assignment is a
    broadcast of the tiny centroid table plus an argmin whose shuffle
    rows carry (vec_id, struct) — never vectors; no driver collect
    anywhere. All distances/cosines use the same rounded static fold as
    the DuckDB twin, so ordering can never disagree across engines.

    Output: (vec_id, cell, keep 0/1, dup_of nullable, cos_x1e9 nullable)
    where dup_of is the strongest earlier partner at/above threshold.
    """
    base = _normed(emb, dim)
    cent = coarse_centroids(base, n_cells, dim, n_iters)
    _ad, asn = _assign(base, cent, dim)
    members = tracked_cache(base.join(asn, "vec_id"))

    a = members.select("cell", "vec_id", F.col("_e").alias("_ea"),
                       F.col("_norm").alias("_na"), F.col("dcent").alias("da"))
    b = members.select("cell", F.col("vec_id").alias("partner"),
                       F.col("_e").alias("_eb"), F.col("_norm").alias("_nb"),
                       F.col("dcent").alias("db"))
    earlier = ((F.col("db") > F.col("da"))
               | ((F.col("db") == F.col("da"))
                  & (F.col("partner") < F.col("vec_id"))))
    pairs = (a.join(b, "cell")
             .filter(earlier)
             .withColumn("cos_r", _cos_r("_ea", "_na", "_eb", "_nb", dim))
             .filter(F.col("cos_r") >= threshold))
    best = (pairs.groupBy("vec_id")
            .agg(F.min(F.struct((-F.col("cos_r")).alias("nc"),
                                F.col("partner"))).alias("m"))
            .select("vec_id", F.col("m.partner").alias("dup_of"),
                    (-F.col("m.nc")).alias("best_cos")))
    return (members.join(best, "vec_id", "left")
            .select(F.col("vec_id").cast("long"),
                    F.col("cell").cast("long"),
                    F.col("dup_of").isNull().cast("long").alias("keep"),
                    F.col("dup_of").cast("long").alias("dup_of"),
                    _x1e9("best_cos").alias("cos_x1e9")))


def chunk_l2_topk(chunks: DataFrame, query_text: str, k: int = 5,
                  dim: int = 16) -> DataFrame:
    """Embedding-based chunk retrieval — the reference's PRIMARY RAG top-k
    path: FAISS IndexFlatL2 brute-force L2 over chunk embeddings
    (src/utils.py:38-56; embedding branch of get_top_k_chunks,
    ocr_app/utils/text_utils.py:92-115), k=5 per the RAG default
    (ocr_app/rag/rag_processor.py:33).

    Exact scan + orderBy().limit(k) → TakeOrderedAndProject (per-partition
    top-k, merge of k·p rows — no global sort); lsh_bucket_topk is the
    approximate bucket-join variant when even one scan per query is too
    much. The L2 fold sums squared terms in ascending dimension order, so
    the DuckDB twin's left-assoc chain is bit-identical; rounded to 9
    decimals before ranking. Input: chunks_modern's (conv_id, turn_idx,
    chunk_idx, chunk). Output: (rank, conv_id, turn_idx, chunk_idx,
    l2_x1e9).
    """
    qvec = embed_text_py(query_text, dim)
    dist = None
    for d in range(dim):
        t = _embed_term(F.col("chunk"), d) - F.lit(qvec[d])
        sq = t * t
        dist = sq if dist is None else dist + sq
    return _chunk_topk(chunks, dist, "dist_r", F.asc, k, "l2_x1e9")


def _chunk_topk(chunks: DataFrame, score, col: str, direction, k: int,
                out: str) -> DataFrame:
    """TakeOrdered top-k chunks by `score` rounded to 9 decimals (as
    `col`), ties by (conv_id, turn_idx, chunk_idx), all in `direction`
    (F.asc or F.desc). Output: (rank, conv_id, turn_idx, chunk_idx, out)."""
    order = [direction(c) for c in (col, "conv_id", "turn_idx", "chunk_idx")]
    top = (chunks.withColumn(col, F.round(score, 9))
           .orderBy(*order).limit(k))
    return (top.withColumn("rank", F.row_number().over(Window.orderBy(*order))
                           .cast("long"))
            .select("rank", "conv_id", "turn_idx",
                    F.col("chunk_idx").cast("long").alias("chunk_idx"),
                    _x1e9(col).alias(out)))


def _embed_sql(dim: int):
    """DuckDB restatement of the md5 embedding: the `h{d}` hex-prefix
    columns of `chunk`, and dimension d's value from its `h{d}` (hex→int
    via nibble positions — DuckDB has no conv())."""
    hex_cols = ",\n           ".join(
        f"substr(md5('{d}:' || chunk), 1, 8) h{d}" for d in range(dim))

    def value(d: int) -> str:
        nib = " + ".join(
            f"(strpos('0123456789abcdef', substr(h{d}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
            for i in range(8))
        return f"cast({nib} as double) / 2147483647.0 - 1.0"

    return hex_cols, value


def chunk_l2_sql_duckdb(chunks_parquet: str, query_text: str, k: int = 5,
                        dim: int = 16) -> str:
    """DuckDB twin of chunk_l2_topk over the pyref chunk golden parquet.

    Restates the md5 embedding (_embed_sql), the left-assoc
    squared-distance chain in the same dimension order, and the
    TakeOrdered ranking.
    """
    qvec = embed_text_py(query_text, dim)
    hex_cols, value = _embed_sql(dim)
    val_cols = ",\n           ".join(
        f"({value(d)} - ({qvec[d]!r})) t{d}" for d in range(dim))
    dist = " + ".join(f"(t{d} * t{d})" for d in range(dim))
    return f"""
    WITH c AS (SELECT conv_id, turn_idx, chunk_idx, chunk,
           {hex_cols}
           FROM read_parquet('{chunks_parquet}')),
    v AS (SELECT conv_id, turn_idx, chunk_idx,
           {val_cols}
           FROM c),
    d AS (SELECT conv_id, turn_idx, chunk_idx, round({dist}, 9) dist_r FROM v)
    SELECT cast(row_number() OVER (ORDER BY dist_r, conv_id, turn_idx, chunk_idx)
                as bigint) rank,
           conv_id, turn_idx, cast(chunk_idx as bigint) chunk_idx,
           cast(floor(dist_r * 1000000000 + 0.5) as bigint) l2_x1e9
    FROM d ORDER BY dist_r, conv_id, turn_idx, chunk_idx LIMIT {k}"""


def chunk_cosine_topk(chunks: DataFrame, query_text: str, k: int = 5,
                      dim: int = 16) -> DataFrame:
    """The reference's SECOND embedding retrieval path: `_embedding_search`
    (ocr_app/utils/text_utils.py:157-169) — `np.dot(chunk_embeddings,
    query_embedding)` ranked by `np.argsort(sim)[-k:][::-1]`.

    Bug-faithful: despite its "cosine similarity" comment the reference
    never divides by the norms — the score IS the raw dot product, and
    this port keeps that. Ties follow argsort's stable ascending order
    reversed: at equal score the LARGER flat chunk index wins (both for
    inclusion at the k boundary and for rank order), i.e. DESC on
    (conv_id, turn_idx, chunk_idx). Same deterministic md5 embedding and
    TakeOrderedAndProject shape as chunk_l2_topk (src/utils.py twin).
    Output: (rank, conv_id, turn_idx, chunk_idx, dot_x1e9).
    """
    qvec = embed_text_py(query_text, dim)
    dot = None
    for d in range(dim):
        t = _embed_term(F.col("chunk"), d) * F.lit(qvec[d])
        dot = t if dot is None else dot + t
    return _chunk_topk(chunks, dot, "dot_r", F.desc, k, "dot_x1e9")


def chunk_cosine_sql_duckdb(chunks_parquet: str, query_text: str, k: int = 5,
                            dim: int = 16) -> str:
    """DuckDB twin of chunk_cosine_topk (same md5 embedding restatement
    and left-assoc dot fold in ascending dimension order)."""
    qvec = embed_text_py(query_text, dim)
    hex_cols, value = _embed_sql(dim)
    val_cols = ",\n           ".join(
        f"(({value(d)}) * ({qvec[d]!r})) t{d}" for d in range(dim))
    dot = " + ".join(f"t{d}" for d in range(dim))
    return f"""
    WITH c AS (SELECT conv_id, turn_idx, chunk_idx, chunk,
           {hex_cols}
           FROM read_parquet('{chunks_parquet}')),
    v AS (SELECT conv_id, turn_idx, chunk_idx,
           {val_cols}
           FROM c),
    d AS (SELECT conv_id, turn_idx, chunk_idx, round({dot}, 9) dot_r FROM v)
    SELECT cast(row_number() OVER (ORDER BY dot_r DESC, conv_id DESC,
                                   turn_idx DESC, chunk_idx DESC) as bigint) rank,
           conv_id, turn_idx, cast(chunk_idx as bigint) chunk_idx,
           cast(floor(dot_r * 1000000000 + 0.5) as bigint) dot_x1e9
    FROM d ORDER BY dot_r DESC, conv_id DESC, turn_idx DESC, chunk_idx DESC
    LIMIT {k}"""


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 (no RNG state)."""
    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()
            vals.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)  # ~U(-1, 1)
        planes.append(vals)
    return planes


def lsh_bucket_topk(emb: DataFrame, n_queries: int = 20, k: int = 3,
                    n_planes: int = 8, dim: int = 64) -> DataFrame:
    """Scale path: random-hyperplane LSH bucketing + in-bucket exact re-rank.

    Approximate — recall < 1 vs cosine_topk by construction; the bucket key
    is a signature of sign(e·plane) bits, so the self-join shuffles on the
    bucket hash instead of broadcasting the full corpus.
    Output: (query_id, rank, neighbor_id, cos_x1e9) within shared buckets.
    """
    planes = _hyperplanes(dim, n_planes)
    base = with_norm(emb, dim=dim)
    # projection rounded to 9 decimals before the sign test so the Spark
    # and DuckDB float folds can never disagree on a bucket bit; static
    # per-dim chain (same fold order as the HOF, fully codegen'd)
    def proj(plane):
        acc = F.lit(0.0)
        for d, v in enumerate(plane):
            acc = acc + F.col("_e").getItem(d) * F.lit(v)
        return acc

    sig = F.concat_ws(
        "",
        *[
            F.when(F.round(proj(plane), 9) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for plane in planes
        ],
    )
    b = base.withColumn("bucket", sig).select("vec_id", "_e", "_norm", "bucket")
    q = _query_vecs(b, n_queries, "bucket")
    return _cosine_topk(b.join(q, "bucket"), k, dim)


def _pq_micro_sqdist(a, b, dsub: int):
    """Squared L2 between two sub-vectors in integer micro-units
    ((floor(x·1e6) − floor(y·1e6))² summed as longs) — a STATIC codegen
    chain with NO float ties, so argmins and rankings built on it are
    deterministic and bit-identical across engines."""
    dist = F.lit(0).cast("long")
    for d in range(dsub):
        t = (F.floor(a.getItem(d) * F.lit(1000000.0)).cast("long")
             - F.floor(b.getItem(d) * F.lit(1000000.0)).cast("long"))
        dist = dist + t * t
    return dist


def _pq_codes(base: DataFrame, m: int, ksub: int, dim: int,
              seed_base: int = 0):
    """Shared PQ core: per-subspace seed codebooks (sub-vectors of the
    ksub smallest vec_ids at/above `seed_base`) and the per-vector code
    assignment. `seed_base` matters when the input frame is a RESIDUAL
    frame whose cell centroids were seeded from vec_id < n_cells: those
    vectors' residuals are the zero vector, so seeding codewords from
    the same range would collapse the codebook — residual callers seed
    from the next disjoint id range. Returns (codes_df with
    vec_id/code{s}/_err{s}, [codebook_df per subspace])."""
    dsub = dim // m
    parts, cents = [], []
    for s in range(m):
        sub = F.slice(F.col("_e"), s * dsub + 1, dsub)
        sb = base.select("vec_id", sub.alias("_se"))
        cent = (sb.filter((F.col("vec_id") >= seed_base)
                          & (F.col("vec_id") < seed_base + ksub))
                .select((F.col("vec_id") - seed_base).cast("int")
                        .alias("cid"),
                        F.col("_se").alias("_ce")))
        cents.append(cent)
        ad = sb.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cid",
            _pq_micro_sqdist(F.col("_se"), F.col("_ce"), dsub).alias("d"))
        parts.append(
            ad.groupBy("vec_id")
            .agg(F.min(F.struct("d", "cid")).alias("mn"))
            .select("vec_id",
                    F.col("mn.cid").cast("long").alias(f"code{s}"),
                    F.col("mn.d").cast("long").alias(f"_err{s}")))
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, "vec_id")
    return out, cents


def _sum_cols(names):
    """Left-assoc sum of the named columns."""
    acc = None
    for n in names:
        acc = F.col(n) if acc is None else acc + F.col(n)
    return acc


def _raw_luts(base: DataFrame, cents: list, n_queries: int, m: int,
              dim: int) -> list:
    """Per subspace s, the broadcast-ready LUT (query_id, code{s}, _d{s}):
    each query sub-vector's micro-unit distance to every codeword."""
    dsub = dim // m
    q = base.filter(F.col("vec_id") < n_queries)
    luts = []
    for s in range(m):
        sub = F.slice(F.col("_e"), s * dsub + 1, dsub)
        luts.append(
            q.select(F.col("vec_id").alias("query_id"), sub.alias("_qe"))
            .crossJoin(F.broadcast(cents[s]))
            .select("query_id", F.col("cid").cast("long").alias(f"code{s}"),
                    _pq_micro_sqdist(F.col("_qe"), F.col("_ce"), dsub)
                    .alias(f"_d{s}")))
    return luts


def _adc_topk(scan: DataFrame, m: int, k: int) -> DataFrame:
    """Per-query top-k of a LUT-joined scan by summed subspace distance
    (_d0.._d{m-1}), self excluded, ties to the smaller neighbor id.
    Output: (query_id, rank, neighbor_id, adc_microsq)."""
    ranked = (scan.filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      _sum_cols(f"_d{s}" for s in range(m))
                      .cast("long").alias("adc_microsq")))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_microsq"), F.asc("neighbor_id"))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("query_id").cast("long"),
                    F.col("rank").cast("long"),
                    F.col("neighbor_id").cast("long"), "adc_microsq"))


def pq_encode(emb: DataFrame, m: int = 4, ksub: int = 16,
              dim: int = EMB_DIM) -> DataFrame:
    """Product-quantization encode (Jégou, Douze & Schmid, TPAMI 2011):
    split each vector into m subspaces, quantize each sub-vector to its
    nearest of ksub per-subspace codewords, emit the m-code row plus the
    exact reconstruction error — the standard memory-bound ANN
    compression (64 dims × 8 B → m small codes + a shared KB-scale
    codebook) one step beyond the suite's SQ8 affine quantizer.

    Codebook: per subspace, the sub-vectors of the ksub smallest vec_ids
    (the coarse_centroids n_iters=0 seed convention — codebook TRAINING
    quality is the same documented model boundary; Lloyd refinement
    plugs in via coarse_centroids over the sliced frame). Scale shape:
    each codebook is ksub×(dim/m) doubles — broadcast; per-subspace
    assignment is a map-side broadcast join whose argmin shuffles
    (vec_id, struct(d, cid)) rows — never vectors — and the m code
    frames re-join on the one vec_id key. Distances are squared L2 in
    integer micro-units per dimension ((floor(e·1e6) − floor(c·1e6))²,
    exact longs), so the argmin has NO float ties and both engines
    agree bit-for-bit; the per-subspace argmin distance IS the exact
    reconstruction error, so the total is a sum of already-exact longs.
    Output: (vec_id, code0..code{m-1}, err_microsq)."""
    out, _cents = _pq_codes(_pq_base(emb), m, ksub, dim)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[F.col(f"code{s}") for s in range(m)],
        _sum_cols(f"_err{s}" for s in range(m))
        .cast("long").alias("err_microsq"))


def pq_adc_topk(emb: DataFrame, n_queries: int = 20, k: int = 3,
                m: int = 4, ksub: int = 16, dim: int = EMB_DIM) -> DataFrame:
    """PQ asymmetric-distance search (Jégou et al. 2011 §IV): queries
    stay full-precision, the database is its PQ codes, and distance is
    the sum of per-subspace query→codeword lookups — the memory-bound
    scan that makes 10^9-vector ANN fit RAM (m small codes per vector +
    a queries×m×ksub lookup table).

    Distributed shape: the LUT (n_queries·m·ksub rows — KBs) is built by
    a broadcast cross of the query sub-vectors with each codebook and
    then BROADCAST onto the code table, so the scan is m map-side hash
    joins over the codes frame + one (query, vec) partial-agg sum; the
    per-query top-k is a window over rows already reduced to
    n·n_queries. Distances are the integer micro-unit squared-L2 chain
    (_pq_micro_sqdist) end to end — NO float ties, deterministic
    ranking, bit-identical oracle. Output:
    (query_id, rank, neighbor_id, adc_microsq)."""
    base = _pq_base(emb)
    codes, cents = _pq_codes(base, m, ksub, dim)
    scan = codes.select("vec_id", *[f"code{s}" for s in range(m)])
    for s, lut in enumerate(_raw_luts(base, cents, n_queries, m, dim)):
        join_on = [f"code{s}"] if s == 0 else ["query_id", f"code{s}"]
        scan = scan.join(F.broadcast(lut), join_on)
    return _adc_topk(scan, m, k)


def ivfpq_adc_topk(emb: DataFrame, n_queries: int = 20, k: int = 3,
                   m: int = 4, ksub: int = 16, n_cells: int = 16,
                   n_probe: int = 4, dim: int = EMB_DIM) -> DataFrame:
    """IVFADC — the Faiss IndexIVFPQ composition (Jégou, Douze & Schmid
    2011 §V): a coarse quantizer restricts the scan to the n_probe
    probed cells and PQ asymmetric distance ranks inside them — THE
    billion-scale ANN layout (inverted cells bound candidate count,
    m-byte codes bound memory; 10^9 vectors fit a few GB per executor).
    This variant codes the RAW vectors (simplest LUT shape: one per
    query); ivfpq_residual_adc_topk below is the faithful
    residual-encoded form (one LUT per query×probed-cell, lower
    quantization error). Every distributed mechanism
    (cell-partitioned code table, broadcast probe list, broadcast
    LUTs) is shared between the two.

    Distributed shape: the centroid table is broadcast for assignment
    (the argmin shuffles (vec_id, struct) rows, never vectors); the
    code table picks up its cell id with one vec_id equi-join (at rest
    this is simply the partitioning of the index); the probe list
    (n_queries·n_probe rows) and the per-subspace LUTs (n_queries·ksub
    rows each) are BROADCAST onto the cell-restricted scan, so the scan
    costs |probed cells| rows with no shuffle of the code table; the
    per-query top-k is a window over the already-reduced frame.
    Integer micro-unit distances end to end — no float ties. Output:
    (query_id, rank, neighbor_id, adc_microsq)."""
    base = _pq_base(emb)
    ad, asn = _assign(base, coarse_centroids(base, n_cells, dim), dim)
    codes, cents = _pq_codes(base, m, ksub, dim)
    scan = (codes.select("vec_id", *[f"code{s}" for s in range(m)])
            .join(asn, "vec_id")
            .join(F.broadcast(_probes(ad, n_queries, n_probe)), "cell"))
    for s, lut in enumerate(_raw_luts(base, cents, n_queries, m, dim)):
        scan = scan.join(F.broadcast(lut), ["query_id", f"code{s}"])
    return _adc_topk(scan, m, k)


def ivfpq_residual_adc_topk(emb: DataFrame, n_queries: int = 20,
                            k: int = 3, m: int = 4, ksub: int = 16,
                            n_cells: int = 16, n_probe: int = 4,
                            dim: int = EMB_DIM) -> DataFrame:
    """Residual-encoded IVFADC — the FAITHFUL Faiss IndexIVFPQ
    (Jégou et al. 2011 §V eq. 14): each database vector is PQ-coded on
    its RESIDUAL from its cell centroid (residuals are centered → far
    lower quantization error than raw-vector codes), and each query
    builds one LUT per PROBED CELL from its residual against that
    cell's centroid. ivfpq_adc_topk remains the raw-vector variant;
    this one retires its stated simplification — the residual subtract
    is a plain IEEE double op, so the integer micro-unit distance chain
    stays bit-exact across engines.

    Distributed shape: identical to ivfpq_adc_topk plus one broadcast
    centroid join to form residuals (zip_with — JVM HOF, no Python);
    LUTs grow to n_queries·n_probe·ksub rows per subspace — still KBs,
    still broadcast; the code table is still scanned cell-restricted
    with no shuffle. Output: (query_id, rank, neighbor_id,
    adc_microsq)."""
    dsub = dim // m
    base = _pq_base(emb)
    cent = coarse_centroids(base, n_cells, dim)
    ad, asn = _assign(base, cent, dim)
    probes = _probes(ad, n_queries, n_probe)
    cellc = cent.select(F.col("cid").alias("cell"),
                        F.col("_ce").alias("_cc"))
    res = tracked_cache(
        base.join(asn, "vec_id").join(F.broadcast(cellc), "cell")
        .select("vec_id", "cell",
                F.zip_with("_e", "_cc", lambda a, b: a - b).alias("_e")))
    # codeword seeds come from the id range AFTER the coarse seeds:
    # vec_id < n_cells residuals are exactly zero (their own embeddings
    # ARE the centroids), which would collapse the codebook
    codes, rcents = _pq_codes(res.select("vec_id", "_e"), m, ksub, dim,
                              seed_base=n_cells)
    scan = (codes.select("vec_id", *[f"code{s}" for s in range(m)])
            .join(res.select("vec_id", "cell"), "vec_id")
            .join(F.broadcast(probes), "cell"))
    qv = (base.filter(F.col("vec_id") < n_queries)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("_e").alias("_qe")))
    qres = (probes.join(qv, "query_id").join(F.broadcast(cellc), "cell")
            .select("query_id", "cell",
                    F.zip_with("_qe", "_cc",
                               lambda a, b: a - b).alias("_qr")))
    for s in range(m):
        sub = F.slice(F.col("_qr"), s * dsub + 1, dsub)
        lut = (qres.select("query_id", "cell", sub.alias("_q"))
               .crossJoin(F.broadcast(rcents[s]))
               .select("query_id", "cell",
                       F.col("cid").cast("long").alias(f"code{s}"),
                       _pq_micro_sqdist(F.col("_q"), F.col("_ce"), dsub)
                       .alias(f"_d{s}")))
        scan = scan.join(F.broadcast(lut),
                         ["query_id", "cell", f"code{s}"])
    return _adc_topk(scan, m, k)
