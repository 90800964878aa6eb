"""Similarity search over embedding columns (``array<float>``).

Tiers:
  * **brute-force top-k vs a query vector** — JVM fold dot products +
    TakeOrderedAndProject. The correctness baseline.
  * **brute-force k-NN join (batch)** — vectorized numpy matmul via
    ``mapInPandas``: queries broadcast as a matrix, each partition of
    the corpus scores against all queries in one BLAS call. This is the
    Arrow/pandas "slow path done right": one matmul per batch instead
    of |corpus|×|queries| folds.
  * **LSH-bucketed ANN (scale path)** — deterministic random-hyperplane
    signatures: sign of <v, h_i> for ``num_bits`` hashed hyperplanes →
    bucket join on signature prefix → exact re-rank inside buckets.
    At 100 TB the corpus never self-joins; candidates are bucket-local.
  * **IVF (coarse quantizer)** — k-means-lite centroids (sampled,
    driver-side, deterministic seed) → assign each vector to nearest
    centroid (broadcast) → probe the top ``nprobe`` centroids per query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_lakehouse_spark.functions.vectors import (
    cosine_similarity,
    lit_double_matrix,
    lit_doubles,
)

__all__ = [
    "topk_vs_query",
    "knn_join",
    "knn_join_blocked",
    "hyperplane_signature",
    "ann_lsh_topk",
    "ivf_assign",
    "ivf_topk",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
    "kmeans_update",
    "kmeans_train",
    "save_ivfpq_index",
    "append_to_ivfpq_index",
    "load_ivfpq_index",
    "ivfpq_topk_from_index",
]


def _round6_spark(arr: "np.ndarray") -> "np.ndarray":
    """Round to 6 digits EXACTLY the way Spark's ``F.round(x, 6)`` does
    for doubles: java ``BigDecimal.valueOf(d)`` (shortest decimal
    representation, same as Python ``repr``) → ``setScale(6,
    HALF_UP)``. The batch-local top-k cut must order candidates in the
    SAME rounded domain as the final global window — ``np.round``
    scales by 1e6 and rounds the FLOAT half-to-even, so a 1-ulp
    half-boundary disagreement (x.4999…/x.5000…01 after scaling) could
    drop a row locally that the window would rank inside top-k.
    Decimal cost is bounded: this runs only on the ≤(k + tie-band)
    candidate slices, never the full batch."""
    from decimal import ROUND_HALF_UP, Decimal

    quantum = Decimal("0.000001")
    out = np.empty(len(arr), dtype=np.float64)
    for i, v in enumerate(arr):
        fv = float(v)
        if fv != fv or fv in (float("inf"), float("-inf")):
            out[i] = fv  # Spark's round passes NaN/inf through
        else:
            out[i] = float(Decimal(repr(fv)).quantize(quantum, ROUND_HALF_UP))
    return out


def topk_vs_query(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one literal query vector."""
    q = lit_doubles(query_vec)
    return (
        vectors.select(
            id_col, cosine_similarity(F.col(vec_col), q).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Exact k-NN join: for every query vector, its top-k corpus
    neighbors by cosine. Queries are collected to a broadcast matrix
    (the small side — same regime as a broadcast hash join); the corpus
    streams through ``mapInPandas`` doing one normalized matmul per
    Arrow batch, then a global per-query top-k window collapses the
    per-partition candidates.

    Returns (query_id, neighbor_id, cosine) — k rows per query.

    Cross-engine float portability (two layers, both needed — the sf10
    sweep caught each failing alone): (1) the REPORTED-and-RANKED
    cosine is the SEQUENTIAL left-to-right fold (``np.cumsum``) — the
    identical float64 accumulation order a SQL engine's
    ``list_dot_product`` / the JVM ``aggregate`` fold uses — so the
    raw double entering the final 6-digit rounding is bit-equal in any
    engine (BLAS reorders the sum; its last-ulp noise can straddle a
    rounding boundary, and on quantized corpora such straddles are
    common, not rare). (2) BLAS still powers CANDIDATE GENERATION (it
    is ~10× the fold's throughput); the batch-local cut keeps
    everything within ``1e-5`` of the kth 6-digit BLAS cosine, which
    strictly covers the ≤1e-6 disagreement between the BLAS and
    sequential rank domains, so a row cut locally is dominated by k
    rows from its own batch under the global sequential order — the
    cut stays exact, not a heuristic. The final window ranks on
    ``F.round(cosine, 6)`` (ties break on neighbor_id).
    """
    import pandas as pd
    from pyspark.sql import Window as W

    qrows = queries.select(query_id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # sequential self-dot norms (cumsum = left-to-right), for layer (1)
    qseq = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])

    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, qnorm, qmat, qseq))

    def score(batches):
        ids, qn, qm, qs = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            cnorm = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
            cseq = np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
            # candidate domain: 6-digit BLAS cosines (see docstring)
            sims = np.round(cnorm @ qn.T, 6)  # |batch| x |queries|
            nids = pdf[id_col].to_numpy()
            kk = min(k, sims.shape[0])
            out_q, out_n, out_c = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                if kk < len(col):
                    # margin-and-tie-safe prefilter (see docstring)
                    kth = -np.partition(-col, kk - 1)[kk - 1]
                    cand = np.nonzero(col >= kth - 1e-5)[0]
                else:
                    cand = np.arange(len(col))
                # report the sequential-fold cosine for the candidates
                num = np.cumsum(cmat[cand] * qm[j], axis=1)[:, -1]
                den = np.maximum(cseq[cand] * qs[j], 1e-12)
                seq = num / den
                if len(cand) > kk:
                    # re-truncate batch-locally to k under the FINAL
                    # order (round(seq,6) desc, neighbor_id asc): the
                    # same exact-cut argument holds in the sequential
                    # domain, and it bounds output to k rows per query
                    # per batch — without it, quantized/duplicated
                    # corpora push whole copy-cliques of near-ties into
                    # the 1e-5 band and balloon the shuffle. The cut
                    # rounds the way SPARK rounds (_round6_spark), not
                    # np.round — the orders must agree at the boundary.
                    keep = np.lexsort((nids[cand], -_round6_spark(seq)))[:kk]
                    cand, seq = cand[keep], seq[keep]
                out_q.append(np.full(len(cand), ids[j]))
                out_n.append(nids[cand])
                out_c.append(seq)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    # spread a single-file corpus, but cap the fan-out: each partition
    # costs a Python-worker spin-up, and the matmul amortizes only over
    # reasonably large Arrow batches
    par = min(8, spark.sparkContext.defaultParallelism)
    local = (
        corpus.select(id_col, vec_col)
        .repartition(par)
        .mapInPandas(score, schema="query_id long, neighbor_id long, cosine double")
        .withColumn("cosine", F.round("cosine", 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def knn_join_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    corpus_chunks: int | None = None,
    query_blocks: int = 2,
) -> DataFrame:
    """Exact k-NN join with NO driver-side collect of the query set —
    the scale path past :func:`knn_join`'s broadcast-matrix regime
    (documented ~100k-query ceiling). Returns the same
    (query_id, neighbor_id, cosine) top-k, bit-equal tie-breaking.

    Grid cogroup: the corpus is hashed into ``corpus_chunks`` chunks
    and the queries into ``query_blocks`` blocks; each side is
    replicated across the OTHER side's grid axis (queries ×C, corpus
    ×Q — plain ``explode`` of a literal range, a shuffle, never a
    collect), so every (chunk, block) grid cell cogroups one corpus
    chunk with one query block inside ``applyInPandas`` and scores it
    with a single BLAS matmul. Each cell emits its per-query top-k
    candidates under the margin-and-tie-safe cut with
    sequential-fold reported cosines (knn_join's two-layer
    cross-engine portability scheme — see its docstring), and one
    window over the ~C·k candidates per query yields the exact global
    answer in the 6-digit sequential domain.

    Scale accounting: exactness costs |corpus|×|queries| dot products
    no matter how they're scheduled — the matmul work is identical to
    the broadcast path; what changes is that NOTHING passes through
    the driver and no single executor ever holds more than
    (|corpus|/C + |queries|/Q) vectors plus their sims matrix. Shuffle
    volume is corpus×Q + queries×C; size ``query_blocks`` ≈
    ⌈|queries| / 50k⌉ so a block's matrix stays comfortably in worker
    memory, ``corpus_chunks`` from the cluster's parallelism.
    """
    import pandas as pd
    from pyspark.sql import Window as W

    spark = corpus.sparkSession
    C = int(corpus_chunks or min(8, spark.sparkContext.defaultParallelism))
    Q = max(1, int(query_blocks))

    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .withColumn("ck", F.pmod(F.xxhash64("neighbor_id"), F.lit(C)).cast("int"))
        .withColumn("qb", F.explode(F.array(*[F.lit(i) for i in range(Q)])))
    )
    q = (
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qb", F.pmod(F.xxhash64("query_id"), F.lit(Q)).cast("int"))
        .withColumn("ck", F.explode(F.array(*[F.lit(i) for i in range(C)])))
    )

    def score_cell(key, cg: "pd.DataFrame", qg: "pd.DataFrame"):
        if not len(cg) or not len(qg):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "cosine": "float64"})
        cmat = np.array(list(cg["cv"]), dtype=np.float64)
        qmat = np.array(list(qg["qv"]), dtype=np.float64)
        cnorm = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
        qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
        cseq = np.sqrt(np.cumsum(cmat * cmat, axis=1)[:, -1])
        qseq = np.sqrt(np.cumsum(qmat * qmat, axis=1)[:, -1])
        # BLAS candidate domain + sequential-fold reported cosine —
        # same two-layer portability scheme and exact-cut argument as
        # knn_join's docstring (margin covers BLAS-vs-fold rank skew)
        sims = np.round(cnorm @ qnorm.T, 6)  # |chunk| x |block|
        nids = cg["neighbor_id"].to_numpy()
        qids = qg["query_id"].to_numpy()
        kk = min(k, sims.shape[0])
        out_q, out_n, out_c = [], [], []
        for j in range(sims.shape[1]):
            col = sims[:, j]
            if kk < len(col):
                # margin-and-tie-safe prefilter: keep everything within
                # 1e-5 of the kth value — covers genuine ties AND the
                # ≤1e-6 BLAS/sequential rank-domain disagreement
                kth = -np.partition(-col, kk - 1)[kk - 1]
                cand = np.nonzero(col >= kth - 1e-5)[0]
            else:
                cand = np.arange(len(col))
            num = np.cumsum(cmat[cand] * qmat[j], axis=1)[:, -1]
            den = np.maximum(cseq[cand] * qseq[j], 1e-12)
            seq = num / den
            if len(cand) > kk:
                # batch-local top-k under the final order — bounds each
                # cell's output to k rows per query; rounds the way
                # Spark's window will (see knn_join / _round6_spark)
                keep = np.lexsort((nids[cand], -_round6_spark(seq)))[:kk]
                cand, seq = cand[keep], seq[keep]
            out_q.append(np.full(len(cand), qids[j]))
            out_n.append(nids[cand])
            out_c.append(seq)
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    local = (
        c.groupby("ck", "qb")
        .cogroup(q.groupby("ck", "qb"))
        .applyInPandas(
            score_cell, schema="query_id long, neighbor_id long, cosine double"
        )
        .withColumn("cosine", F.round("cosine", 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def hyperplane_signature(vec_col, num_bits: int = 16, dim: int = 64, seed: int = 7):
    """Deterministic random-hyperplane LSH signature (bigint).

    Hyperplane components derive from a hash of (seed, bit, dim index)
    — reproducible anywhere, no stored model. Sign of the dot product
    sets each bit. Cosine-similar vectors share signature prefixes."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_bits, dim))
    # ONE expression tree (nested-array literal + transform fold), not
    # num_bits separate folds: halves Catalyst analysis/codegen time,
    # which dominates at small scale and is pure overhead at any scale.
    # Float semantics are unchanged — same sequential per-plane fold.
    # one-expression literal matrix (round-13): the per-element F.lit
    # form cost num_bits×dim py4j round trips (~1 s of driver chatter
    # per signature construction) — see functions/vectors.lit_doubles
    planes_col = lit_double_matrix(planes)
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(num_bits)])
    bits = F.transform(
        planes_col,
        lambda plane: F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        > 0,
    )
    return F.aggregate(
        F.zip_with(bits, powers, lambda bt, p: F.when(bt, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sig_chunks(sig_col, num_bits: int, max_hamming: int):
    """Explode a signature into ``max_hamming + 1`` pigeonhole chunks.

    If two signatures differ in ≤ ``max_hamming`` bits, at least one of
    the ``max_hamming + 1`` disjoint chunks is identical (pigeonhole),
    so an equi-join on (block, chunk) finds every qualifying pair. Bits
    beyond ``width * blocks`` stay uncovered — that only ADDS candidates
    (differences hiding there don't touch any chunk), and the exact
    hamming filter afterwards removes them."""
    blocks = max_hamming + 1
    width = max(1, num_bits // blocks)
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("block"),
                    F.shiftrightunsigned(sig_col, b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for b in range(blocks)
            ]
        )
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_bits: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 2,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors whose hyperplane
    signature is within ``max_hamming`` bits of the query's, re-ranked
    by exact cosine.

    The candidate stage is the pigeonhole chunk EQUI-join (the same
    pattern as dedupe.embedding_near_dups, applied corpus-vs-queries):
    signatures explode into ``max_hamming + 1`` chunks and candidates
    come from a hash join on (block, chunk) followed by the exact
    hamming filter. No non-equi join predicate → no
    BroadcastNestedLoopJoin → no O(|corpus| × |queries|) signature
    scan: at 100 TB each corpus row meets only the queries sharing one
    of its chunk values (pinned by tests/test_plans.py).

    Heavy embedding arrays never travel through the candidate join —
    they are re-hydrated per side afterwards. ``broadcast_queries``
    hints the (chunked) query side; set it False for query batches
    beyond broadcast size and the same plan degrades to a shuffled hash
    join, still equi-keyed."""
    from pyspark.sql import Window as W

    sig = hyperplane_signature(F.col(vec_col), num_bits, dim)
    c = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), sig.alias("csig")
    )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"), sig.alias("qsig")
    )
    cchunk = c.select("cid", "csig", _sig_chunks(F.col("csig"), num_bits, max_hamming).alias("c")
                      ).select("cid", "csig", "c.block", "c.chunk")
    qchunk = q.select("qid", "qsig", _sig_chunks(F.col("qsig"), num_bits, max_hamming).alias("c")
                      ).select("qid", "qsig", "c.block", "c.chunk")
    if broadcast_queries:
        qchunk = F.broadcast(qchunk)
    cand = (
        cchunk.join(qchunk, ["block", "chunk"])
        .filter(F.bit_count(F.col("csig").bitwiseXOR(F.col("qsig"))) <= max_hamming)
        .select("cid", "qid")
        .dropDuplicates(["cid", "qid"])
    )
    qvecs = q.select("qid", "qvec")
    hydrated = cand.join(c.select("cid", "cvec"), "cid").join(
        F.broadcast(qvecs) if broadcast_queries else qvecs, "qid"
    )
    scored = hydrated.select(
        "qid",
        "cid",
        cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", F.round("cosine", 6).alias("cosine"))
    )


def ivf_assign(
    corpus: DataFrame,
    num_centroids: int = 16,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    iters: int = 5,
    centroids: np.ndarray | None = None,
    train: str = "sample",
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantization: deterministic mini k-means on a sample
    (driver-side numpy — the centroid table is broadcast-size by
    construction), then nearest-centroid assignment as a JVM-side
    argmin over the broadcast centroid array.

    ``centroids``: skip training and assign against a supplied
    centroid matrix (the oracle-graded path: sim_ivf_assign feeds
    seeded centroids it can also embed as SQL literals).

    ``train="corpus"``: train with the full-corpus distributed
    Lloyd's (:func:`kmeans_train`) instead of the driver-side sample —
    the escape hatch when the sample under-represents the tail (skewed
    cluster sizes, rare modalities).

    Returns (corpus + ``centroid`` column, centroids ndarray)."""
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    elif train == "corpus":
        C = kmeans_train(
            corpus, k=num_centroids, iters=iters,
            vec_col=vec_col, id_col=id_col, seed=seed,
        )
    else:
        rows = corpus.select(vec_col).limit(sample).collect()
        X = np.array([r[0] for r in rows], dtype=np.float64)
        rng = np.random.default_rng(seed)
        C = X[rng.choice(len(X), size=min(num_centroids, len(X)), replace=False)]
        for _ in range(iters):
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for j in range(len(C)):
                pts = X[assign == j]
                if len(pts):
                    C[j] = pts.mean(0)

    # JVM-side argmin: one distance-array transform, pick min index
    with_d = corpus.withColumn("_dists", _centroid_dist_array(vec_col, C))
    assigned = with_d.withColumn(
        "centroid", F.expr("array_position(_dists, array_min(_dists)) - 1")
    )
    return (
        assigned.select(*corpus.columns, F.col("centroid").cast("int").alias("centroid")),
        C,
    )


def _centroid_dist_array(vec_col: str, C: np.ndarray) -> F.Column:
    """``array<double>`` of squared-L2 distances to every centroid, as
    ONE ``transform`` over a 2-D literal with a single lambda pair.

    Left-to-right zip_with/aggregate folds, so the floats are
    bit-identical to a DuckDB ``+`` chain over the same literals —
    the property the IVF oracles rely on.

    Why one array instead of k ``_d{j}`` columns: downstream argmin
    (``array_position(arr, array_min(arr))``) references the distance
    set TWICE, and Catalyst's projection collapse inlines column
    references — with k per-centroid fold expressions that duplication
    made the analyzed tree O(k²·dim) and ran the driver out of heap at
    k=16 / dim=64. A single transform keeps the tree O(k·dim) however
    many times it is referenced."""
    c_lit = lit_double_matrix(C)
    return F.transform(
        c_lit,
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF probe search: the inverted-file ANN read path.

    Corpus rows are labeled with their nearest centroid once
    (:func:`ivf_assign` — at scale this is the persisted index, built
    one time and reused across query batches). Each query ranks the
    centroid table and probes its ``nprobe`` nearest cells; candidates
    come from an EQUI-join on the cell id — the fraction of the corpus
    scanned is ~``nprobe / num_centroids``, and no non-equi predicate
    means no BroadcastNestedLoopJoin at any query-batch size. Probed
    candidates re-rank by exact cosine, per-query top-k window.

    This trades recall for scan fraction exactly like a FAISS IVF-Flat
    index; recall is bounded by whether the true neighbor's cell is
    probed, which the accuracy pytest measures against exact knn.

    Returns (qid, cid, cosine) — ≤ k rows per query."""
    from pyspark.sql import Window as W

    C = np.asarray(centroids, dtype=np.float64)
    n = len(C)
    assigned, _ = ivf_assign(
        corpus, id_col=id_col, vec_col=vec_col, centroids=C
    )
    # per-query centroid ranking → nprobe probe cells
    qd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    ).withColumn("_dists", _centroid_dist_array("qvec", C))
    exploded = qd.select(
        "qid", "qvec", F.posexplode("_dists").alias("centroid", "dist")
    )
    wq = W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("centroid"))
    probe = (
        exploded.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qvec", F.col("centroid").cast("int").alias("centroid"))
    )
    if broadcast_queries:
        probe = F.broadcast(probe)
    cand = assigned.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), "centroid"
    ).join(probe, "centroid")
    # a corpus row lives in exactly one cell and probe cells are unique
    # per query, so (qid, cid) pairs cannot duplicate — no dedup shuffle
    scored = cand.select(
        "qid",
        "cid",
        cosine_similarity(F.col("cvec"), F.col("qvec")).alias("cosine"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", F.round("cosine", 6).alias("cosine"))
    )


# ------------------------------------------------------- product quant
def pq_train(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 8,
    sample: int = 2048,
    seed: int = 13,
    iters: int = 5,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al.): split the vector
    into ``m`` subspaces and k-means each independently. Training is
    driver-side numpy on a bounded sample (the codebook is
    broadcast-size by construction, exactly like :func:`ivf_assign`'s
    centroid table); the heavy steps — encode and search — are fully
    distributed. Returns (m, ksub, dim/m) codebooks."""
    rows = corpus.select(vec_col).limit(sample).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)]
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d.argmin(1)
            for c in range(len(C)):
                pts = S[a == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books[j, : len(C)] = C
        if len(C) < ksub:  # degenerate tiny sample: repeat last centroid
            books[j, len(C) :] = C[-1]
    return books


def _adc_tables(vec_col, books: np.ndarray) -> F.Column:
    """``array<array<double>>`` — table[j][c] = squared L2 between the
    vector's j-th subvector and codeword c of codebook j, built as ONE
    nested transform over the full 3-D codebook literal.

    This is FAISS's ADC distance-table precompute: build m·ksub
    subdistances ONCE PER VECTOR, then every use (the encode argmin,
    the per-candidate asymmetric distance) is a pure element_at
    lookup — no per-candidate lambda evaluation, and no O(k²) tree
    duplication when an argmin references the table twice (the same
    analyzer blowup _centroid_dist_array fixes for IVF). Fold order is
    the same left-to-right zip_with/aggregate as everywhere else, so
    every looked-up value stays bit-identical to the SQL oracle."""
    m, ksub, dsub = books.shape
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    # 3-D analog of functions/vectors.lit_double_matrix: one SQL string,
    # one py4j round trip, bit-identical double literals
    b_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array("
                + ",".join(f"{float(x)!r}D" for x in books[j, c])
                + ")"
                for c in range(ksub)
            )
            + ")"
            for j in range(m)
        )
        + ")"
    )
    return F.transform(
        b_lit,
        lambda bookj, j: F.transform(
            bookj,
            lambda cw: F.aggregate(
                F.zip_with(
                    F.slice(vec, j * dsub + 1, dsub),
                    cw,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )


def _residual(vec_col: str, centroids: np.ndarray, cell_col: str) -> F.Column:
    """``v - centroid[cell]`` as a JVM zip_with — the vector each
    residual-PQ codebook actually quantizes."""
    c_lit = lit_double_matrix(centroids)
    return F.zip_with(
        F.col(vec_col),
        F.element_at(c_lit, F.col(cell_col) + 1),
        lambda x, y: x.cast("double") - y,
    )


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual_centroids: np.ndarray | None = None,
    cell_col: str = "centroid",
) -> DataFrame:
    """Encode every vector to ``m`` codeword ids (array<int> — 1 byte
    of information per subspace at ksub<=256): per subspace, argmin of
    the left-to-right distance folds over the ksub codewords. Pure JVM
    expressions; the 100 TB index build is one projection pass, and the
    stored code is ~dim*8/m× smaller than the raw vector.

    ``residual_centroids``: quantize ``v - centroid[cell_col]`` instead
    of the raw vector (FAISS's IVF-PQ default — residuals are smaller
    and near-centered, so the same codebook budget spends its ksub
    cells on the part of the vector the coarse quantizer did NOT
    explain; measurably better recall, tools/bench_ann.py)."""
    src = corpus
    enc_col = vec_col
    if residual_centroids is not None:
        src = corpus.withColumn(
            "_resid", _residual(vec_col, residual_centroids, cell_col)
        )
        enc_col = "_resid"
    out = src.withColumn("_tab", _adc_tables(enc_col, books))
    return out.select(
        *corpus.columns,
        F.expr(
            "transform(_tab, t -> cast(array_position(t, array_min(t)) - 1 as int))"
        ).alias("code"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays un-quantized, the
    corpus is scanned as codes, and the distance is the sum of
    per-subspace distances between the query subvector and the SELECTED
    codeword (looked up from the literal codebook by the stored code).
    One broadcast of the (small) query set against the code table —
    the PQ win at 100 TB is the scan reading m ints per row instead of
    the full float vector; combine with :func:`ivf_assign` cells for
    candidate pruning (IVF-PQ)."""
    from pyspark.sql import Window

    m, ksub, dsub = books.shape
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), "code"
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    # FAISS ADC: distance tables precomputed once per query (m·ksub
    # folds), broadcast with the query; each candidate then costs m
    # array lookups — no lambda evaluation in the scan loop
    q = q.withColumn("_qtab", _adc_tables("qv", books)).drop("qv")
    joined = codes.crossJoin(F.broadcast(q))
    adist = None
    for j in range(m):
        term = F.element_at(
            F.element_at("_qtab", j + 1), F.element_at("code", j + 1) + 1
        )
        adist = term if adist is None else adist + term
    ranked = joined.select("qid", F.col(id_col), adist.alias("adist"))
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc(id_col))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, F.round("adist", 6).alias("adist"), "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the production ANN architecture (FAISS ``IVFxx,PQyy``).
    IVF cells bound WHICH rows are scanned (~nprobe/num_centroids of
    the corpus, candidates from a cell-id EQUI-join); PQ codes bound
    WHAT each scanned row costs (m ints + a codebook lookup instead of
    the full float vector). The composition is exactly the two graded
    building blocks chained — cell assignment feeds the encoder, the
    probe join feeds the ADC scorer — so at 100 TB the index table is
    (id, cell, m-int code): ~50× smaller than the raw vectors, scanned
    at ~nprobe/n_cells selectivity, never nested-looped."""
    from pyspark.sql import Window as W

    C = np.asarray(centroids, dtype=np.float64)
    n = len(C)
    m, ksub, dsub = books.shape
    assigned, _ = ivf_assign(corpus, centroids=C, id_col=id_col, vec_col=vec_col)
    coded = pq_encode(
        assigned, books, id_col=id_col, vec_col=vec_col,
        residual_centroids=C if residual else None,
    )
    index = coded.select(F.col(id_col).alias("cid"), "centroid", "code")

    qd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("_dists", _centroid_dist_array("qv", C))
    exploded = qd.select(
        "qid", "qv", F.posexplode("_dists").alias("centroid", "dist")
    )
    wq = W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("centroid"))
    probe = (
        exploded.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            "qid",
            F.col("centroid").cast("int").alias("centroid"),
            # ADC tables precomputed per (query, probed cell) — FAISS
            # distance tables; candidates pay m array lookups, never a
            # per-candidate fold. Residual mode tables the query's
            # residual against the PROBED cell (qv - C[cell]), matching
            # how the codes were produced.
            _adc_tables(
                _residual("qv", C, "centroid") if residual else "qv", books
            ).alias("_qtab"),
        )
    )
    cand = index.join(F.broadcast(probe), "centroid")
    adist = None
    for j in range(m):
        term = F.element_at(
            F.element_at("_qtab", j + 1), F.element_at("code", j + 1) + 1
        )
        adist = term if adist is None else adist + term
    w = W.partitionBy("qid").orderBy(F.asc("adist"), F.asc("cid"))
    return (
        cand.select("qid", "cid", adist.alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("adist", 6).alias("adist"), "rank")
    )


# ------------------------------------------------------ distributed k-means
def kmeans_update(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed Lloyd's update step: assign every vector to its
    nearest centroid (broadcast centroid literals, JVM-side argmin —
    the :func:`ivf_assign` machinery) and recompute per-cell means.

    Returns ``(centroid, n, mean: array<double>)`` — k rows. The whole
    step is ONE shuffle: per-dimension ``avg`` columns with map-side
    partial aggregation, so at 100 TB each executor reduces its
    partitions to k×dim partial sums before anything moves. No driver
    collect of the corpus; the only small data is the centroid table.

    Reference point: the sample-based trainer in :func:`ivf_assign`
    (and FAISS's default) trains on a bounded sample; this is the
    full-corpus variant for when the sample under-represents the tail.
    """
    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]
    assigned, _ = ivf_assign(corpus, centroids=C, vec_col=vec_col)
    agg = assigned.groupBy("centroid").agg(
        F.count("*").alias("n"),
        *[
            F.avg(F.col(vec_col)[i].cast("double")).alias(f"_m{i}")
            for i in range(dim)
        ],
    )
    return agg.select(
        "centroid",
        "n",
        F.array(*[F.col(f"_m{i}") for i in range(dim)]).alias("mean"),
    )


def kmeans_train(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Distributed Lloyd's k-means over the full corpus.

    Init is deterministic (seeded hyperplane-free sample: the k rows
    with the smallest ``md5(seed:id)`` — stable under partitioning and
    engine), then ``iters`` rounds of :func:`kmeans_update`. Per round
    only k×dim doubles reach the driver; the corpus never does. Empty
    cells keep their previous centroid (FAISS behavior).

    This is the trainer to feed :func:`ivf_assign` / :func:`ivfpq_topk`
    when the corpus is too skewed for sample-based training."""
    if init is not None:
        C = np.asarray(init, dtype=np.float64).copy()
    else:
        picked = (
            corpus.select(
                F.col(vec_col).alias("v"),
                F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))).alias("_h"),
            )
            .orderBy("_h")
            .limit(k)
            .collect()
        )
        C = np.array([r["v"] for r in picked], dtype=np.float64)
    for _ in range(iters):
        rows = kmeans_update(corpus, C, vec_col=vec_col).collect()
        for r in rows:
            if r["n"] > 0:
                C[r["centroid"]] = np.array(r["mean"], dtype=np.float64)
    return C


# ------------------------------------------------------ index persistence
def save_ivfpq_index(
    corpus: DataFrame,
    path: str,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Persist the IVF-PQ index: the (id, cell, code) table as parquet
    partitioned BY CELL — so a probe search reads only its nprobe
    partitions from disk (partition pruning does the cell selection
    before any row is touched) — plus the centroid/codebook matrices as
    a JSON sidecar (driver-small by construction: k×dim + m×ksub×dsub
    floats).

    Build once, query many: the FAISS operational model. At 100 TB the
    index table is ~50× smaller than the vectors and this layout makes
    every later query batch O(nprobe/num_cells) of THAT."""
    import json as _json

    assigned, _ = ivf_assign(corpus, centroids=centroids, id_col=id_col, vec_col=vec_col)
    coded = pq_encode(
        assigned, books, id_col=id_col, vec_col=vec_col,
        residual_centroids=np.asarray(centroids, dtype=np.float64)
        if residual else None,
    )
    (
        coded.select(id_col, "centroid", "code")
        .repartition("centroid")
        .write.mode("overwrite")
        .partitionBy("centroid")
        .parquet(f"{path}/index")
    )
    sidecar = {
        "centroids": np.asarray(centroids, dtype=float).tolist(),
        "books": np.asarray(books, dtype=float).tolist(),
        "id_col": id_col,
        "residual": bool(residual),
    }
    import os as _os

    _os.makedirs(path, exist_ok=True)
    tmp = f"{path}/meta.json.tmp"
    with open(tmp, "w") as fh:
        _json.dump(sidecar, fh)
    _os.replace(tmp, f"{path}/meta.json")


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a persisted IVF-PQ index with new vectors:
    assign + PQ-encode the batch against the index's FROZEN centroids
    and codebooks (the sidecar), then append the (id, cell, code) rows
    into the cell partitions. Because the quantizers are frozen, the
    appended codes are bit-identical to what a full rebuild over the
    unioned corpus would produce — append ≡ rebuild, which is what
    makes continuous ingestion safe (FAISS's ``add`` on a trained
    index; re-train only when drift accumulates, then rebuild).

    Streaming form: call this from ``foreachBatch`` — each micro-batch
    is one assign/encode projection plus a partitioned parquet append,
    no shuffle beyond the cell repartition. Readers via
    :func:`load_ivfpq_index` see closed files only (parquet append
    visibility), and a replayed batch re-appends rows — dedup ids at
    query time when exactly-once matters."""
    import json as _json

    with open(f"{path}/meta.json") as fh:
        meta = _json.load(fh)
    C = np.asarray(meta["centroids"], dtype=np.float64)
    books = np.asarray(meta["books"], dtype=np.float64)
    id_col = meta["id_col"]
    assigned, _ = ivf_assign(new_vectors, centroids=C, id_col=id_col, vec_col=vec_col)
    coded = pq_encode(
        assigned, books, id_col=id_col, vec_col=vec_col,
        # encode mode is an index property, not a caller choice —
        # honor what the sidecar recorded at build time
        residual_centroids=C if meta.get("residual") else None,
    )
    (
        coded.select(id_col, "centroid", "code")
        .repartition("centroid")
        .write.mode("append")
        .partitionBy("centroid")
        .parquet(f"{path}/index")
    )


def load_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, np.ndarray, np.ndarray, str, bool]:
    """Load a persisted IVF-PQ index → (index_df, centroids, books,
    id_col, residual). ``index_df`` is the cell-partitioned (id, cell,
    code) table; feed it to :func:`ivfpq_topk_from_index` **together
    with the returned ``residual`` flag** — the encode mode is an index
    property recorded at build time, and ADC tables computed in the
    wrong mode score silently-wrong distances (codes are residuals but
    tables are raw, or vice versa)."""
    import json as _json

    with open(f"{path}/meta.json") as fh:
        meta = _json.load(fh)
    return (
        spark.read.parquet(f"{path}/index"),
        np.asarray(meta["centroids"], dtype=np.float64),
        np.asarray(meta["books"], dtype=np.float64),
        meta["id_col"],
        bool(meta.get("residual", False)),
    )


def ivfpq_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool | None = None,
) -> DataFrame:
    """IVF-PQ probe search against a PERSISTED index: identical math to
    :func:`ivfpq_topk`, but the (id, cell, code) table comes from disk
    — no re-assignment, no re-encoding, and the cell equi-join prunes
    index PARTITIONS (the index is partitioned by cell on disk).

    ``residual`` must match how the index codes were PRODUCED — it is
    an index property, not a search-time choice. Pass the flag returned
    by :func:`load_ivfpq_index`; it is a required explicit argument
    precisely so a residual-encoded index can never be silently scored
    against raw-vector ADC tables (wrong distances, degraded recall,
    no error)."""
    from pyspark.sql import Window as W

    if residual is None:
        raise ValueError(
            "residual must be passed explicitly — use the flag returned by "
            "load_ivfpq_index(); encode mode is a property of the index, and "
            "a mismatch silently corrupts ADC distances"
        )

    C = np.asarray(centroids, dtype=np.float64)
    n = len(C)
    m, ksub, dsub = books.shape
    idx = index.select(F.col(id_col).alias("cid"), "centroid", "code")

    qd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("_dists", _centroid_dist_array("qv", C))
    exploded = qd.select(
        "qid", "qv", F.posexplode("_dists").alias("centroid", "dist")
    )
    wq = W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("centroid"))
    probe = (
        exploded.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            "qid",
            F.col("centroid").cast("int").alias("centroid"),
            # ADC tables precomputed per (query, probed cell) — FAISS
            # distance tables; candidates pay m array lookups, never a
            # per-candidate fold. Residual mode tables the query's
            # residual against the PROBED cell (qv - C[cell]), matching
            # how the codes were produced.
            _adc_tables(
                _residual("qv", C, "centroid") if residual else "qv", books
            ).alias("_qtab"),
        )
    )
    cand = idx.join(F.broadcast(probe), "centroid")
    adist = None
    for j in range(m):
        term = F.element_at(
            F.element_at("_qtab", j + 1), F.element_at("code", j + 1) + 1
        )
        adist = term if adist is None else adist + term
    w = W.partitionBy("qid").orderBy(F.asc("adist"), F.asc("cid"))
    return (
        cand.select("qid", "cid", adist.alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", F.round("adist", 6).alias("adist"), "rank")
    )
