"""Similarity search over embedding columns: brute-force baseline, random
hyperplane LSH bucketing, and IVF-accelerated cosine ANN.

These are the LLM-pipeline similarity operators (SURVEY.md §2 E6-E8); the
RBAC-aware variants live in ``operators/knn.py``. Everything here is
deterministic (hyperplanes from a fixed-seed RNG) so runs are reproducible
across cluster layouts.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from .knn import topk_per_query


def _round6(D: "np.ndarray") -> "np.ndarray":
    """``F.round(·, 6)`` on distances: half-up at 6 dp, then + 0.0 folds
    IEEE −0.0 (from 1 − sim when sim ≈ 1+ε) to +0.0."""
    return np.floor(D * 1e6 + 0.5) / 1e6 + 0.0


def _fold_norms(X: "np.ndarray") -> "np.ndarray":
    """Row norms in ``V.vector_norm``'s op order: Σ_j x_j² folded left to
    right from 0.0 ((0.0 + t0) ≡ t0 in IEEE), then sqrt."""
    s = np.zeros(len(X))
    for j in range(X.shape[1]):
        s = s + X[:, j] * X[:, j]
    return np.sqrt(s)


def _cosine_dist(dot: "np.ndarray", den: "np.ndarray") -> "np.ndarray":
    """Rounded 1 − dot/den with ``V.cosine_similarity``'s NaN on a zero
    denominator (try_divide + coalesce), so zero-norm rows sort LAST."""
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where(den == 0.0, np.nan, dot / den)
    return _round6(1.0 - sim)


def _nan_distance(df: DataFrame) -> DataFrame:
    """pandas→Arrow masks NaN as null; restore the explicit NaN (a null
    distance would sort FIRST ascending, NaN sorts last)."""
    return df.withColumn("distance", F.coalesce("distance", F.lit(float("nan"))))


def _batch_topk_rows(D: "np.ndarray", ids: "np.ndarray", k: int) -> "np.ndarray":
    """Per-batch candidate cut for two-phase top-k: for each query column
    of the (n, Q) score matrix (float distances or negated integer dots),
    the row indices of its k best rows under the SAME order the stage-2
    window uses — score asc (NaN last, as Spark sorts NaN greater than any
    double) with id tie-breaks. Returns a flat (Q·kk,) row-index array
    (kk = min(k, n)); stage-2's global window re-ranks the survivors, so
    emitting a superset per batch is safe and emitting exactly the
    per-batch top-k is the tightest safe cut.

    Selection is argpartition-then-sort-candidates (the ``local_topk``
    idiom): a candidate threshold from a partial partition, then only the
    at-or-below-threshold rows compete under the deterministic full order —
    near-linear instead of Q full sorts per batch."""
    if np.issubdtype(D.dtype, np.floating):
        key = np.where(np.isnan(D), np.inf, D)
    else:
        key = D
    n = D.shape[0]
    kk = min(k, n)
    part_idx = np.argpartition(key, kk - 1, axis=0)[:kk] if kk < n else None
    sel = []
    for qi in range(D.shape[1]):
        col = key[:, qi]
        if part_idx is None:
            cand = np.arange(n)
        else:
            cand = np.flatnonzero(col <= col[part_idx[:, qi]].max())
        sel.append(cand[np.lexsort((ids[cand], col[cand]))][:kk])
    return np.concatenate(sel), kk


def _scan_topk(scan: DataFrame, queries: DataFrame, prep, score, k: int, id_col: str) -> DataFrame:
    """Two-phase exact top-k over an Arrow kernel. ``queries`` is collected
    once (Q-bounded, the local_topk pattern) and ``prep(rows)`` turns it
    into the broadcast query payload; per Arrow batch of ``scan``,
    ``score(pdf, payload)`` returns the (rows, Q) distance matrix and only
    each query's batch top-k leaves the partition, so the window ranks
    P·Q·k rows instead of N·Q. Each corpus vector crosses the Arrow
    boundary once, not once per query."""
    import pandas as pd

    spark = scan.sparkSession
    q_rows = queries.collect()
    if not q_rows:
        return spark.createDataFrame(
            [], f"query_id long, {id_col} long, distance double, rank int"
        )
    qids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    bc = spark.sparkContext.broadcast((qids, prep(q_rows)))

    def part(batches):
        qids_, payload = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            D = score(pdf, payload)
            sel, kk = _batch_topk_rows(D, ids, k)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, kk),
                    "block_id": ids[sel],
                    "distance": D[sel, np.repeat(np.arange(nq), kk)],
                }
            )

    scored = _nan_distance(
        scan.mapInPandas(part, schema="query_id long, block_id long, distance double")
    )
    w = topk_per_query(scored, k, id_col="block_id")
    return w.select("query_id", F.col("block_id").alias(id_col), "distance", "rank")


def _query_matrix(q_rows, col: str) -> "np.ndarray":
    return np.stack([np.asarray(r[col], dtype=np.float64) for r in q_rows])


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k — the oracle-checkable baseline for every ANN
    variant. An Arrow kernel scores each batch against the broadcast
    (Q, d) query matrix with ``V.cosine_distance``'s op sequence (j-order
    dot and norm folds, NaN on a zero norm, half-up 6-dp round, −0.0
    fold), so the rows are the ones the DuckDB oracle replays."""

    def prep(q_rows):
        QM = _query_matrix(q_rows, "query_vector")
        return QM, _fold_norms(QM)

    def score(pdf, payload):
        QM, qn = payload
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        dot = np.zeros((len(X), len(QM)))
        for j in range(QM.shape[1]):
            dot = dot + X[:, j][:, None] * QM[:, j][None, :]
        return _cosine_dist(dot, _fold_norms(X)[:, None] * qn[None, :])

    return _scan_topk(
        embeddings.select(id_col, vec_col), queries.select("query_id", "query_vector"),
        prep, score, k, id_col,
    )


def l2_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """Exact L2 top-k over a single-id vector table (the halfvec / fp-tier
    scan shape) with id tie-breaks. The Arrow kernel folds the squared
    distance per dim in ``V.l2_distance``'s j-order ((x_j−q_j)² added left
    to right, (0.0 + t0) ≡ t0), then sqrt and the half-up 6-dp round."""

    def score(pdf, QM):
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        d2 = np.zeros((len(X), len(QM)))
        for j in range(QM.shape[1]):
            t = X[:, j][:, None] - QM[:, j][None, :]
            d2 = d2 + t * t
        return _round6(np.sqrt(d2))

    return _scan_topk(
        embeddings.select(id_col, vec_col), queries.select("query_id", query_vec_col),
        lambda q_rows: _query_matrix(q_rows, query_vec_col), score, k, id_col,
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _bucket_expr(planes: np.ndarray, vec_col: str) -> F.Column:
    """Packed sign-bit signature of one hyperplane table as a column."""
    bits = [
        F.when(V.inner_product(F.col(vec_col), F.array(*[F.lit(float(v)) for v in p])) > 0, F.lit(1)).otherwise(F.lit(0))
        for p in planes
    ]
    sig = bits[0].cast("long")
    for i, b in enumerate(bits[1:], start=1):
        sig = sig + (b.cast("long") * F.lit(2 ** i))
    return sig


def lsh_bucket(df: DataFrame, planes: np.ndarray, vec_col: str = "embedding", out_col: str = "bucket") -> DataFrame:
    """Random-hyperplane (SimHash) bucketing for cosine: bit_i = sign(x·h_i),
    bucket = packed bits. Pure column math — the planes are literals in the
    plan, the signature is codegen'd; grouping by ``bucket`` co-locates
    likely-similar vectors so candidate generation is a bucket-equijoin, not
    an O(N²) cross join."""
    return df.withColumn(out_col, _bucket_expr(planes, vec_col))


def _lsh_buckets(X: "np.ndarray", P: "np.ndarray", n_tables: int, n_planes: int) -> "np.ndarray":
    """(rows, n_tables) packed sign-bit buckets, ``_bucket_expr``'s bits:
    each x·h folds left to right from 0.0 as ``V.inner_product`` does, so
    every sign bit — the only unrounded float comparison — matches the
    expression and the DuckDB oracle's list_inner_product bit-for-bit."""
    S = np.zeros((len(X), len(P)))
    for j in range(P.shape[1]):
        S = S + X[:, j][:, None] * P[:, j][None, :]
    bits = (S > 0).astype(np.int64).reshape(len(X), n_tables, n_planes)
    return (bits * (1 << np.arange(n_planes, dtype=np.int64))).sum(axis=2)


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate cosine top-k with ``n_tables`` independent hash tables:
    a candidate is scored if, in ANY table, its bucket is within
    ``multiprobe_hamming`` bit-flips (radius ≤ 1) of the query's bucket.

    Scale path for E6: per table the candidate set is ~N·(1+b)/2^b; tables
    multiply recall (1-(1-r)^L) for additive cost. Recall is tested against
    the brute-force baseline (tests/test_knn.py), mirroring the reference's
    recall-vs-ground-truth validation (basic_benchmark/compute_ground_truth.py).

    One Arrow pass per scan partition, with the queries on an executor
    broadcast of a Q-bounded collect: one fold signs every table
    (:func:`_lsh_buckets`), the (query, row) candidate pairs are the rows
    whose bucket differs from the query's by at most one bit in some
    table, and only those pairs are scored, with the brute force's cosine
    op sequence (j-order dot and norms, NaN on a zero norm so zero vectors
    rank last, half-up 6-dp round). Each partition emits ≤ Q×k rows into
    the exact window merge. Bucketing and scoring are both exact, so the
    DuckDB oracle replays the search row for row (global_topk 'lsh_exact').
    """
    import pandas as pd

    spark = embeddings.sparkSession
    q_rows = queries.select("query_id", "query_vector").collect()
    if not q_rows:
        return spark.createDataFrame(
            [], f"query_id long, {id_col} long, distance double, rank int"
        )
    qids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = _query_matrix(q_rows, "query_vector")
    P = np.concatenate(
        [hyperplanes(Q.shape[1], n_planes, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables·n_planes) × dim
    bc = spark.sparkContext.broadcast(
        (qids, Q, _fold_norms(Q), _lsh_buckets(Q, P, n_tables, n_planes), P)
    )

    def part(batches):
        qids_, Q_, qn, qb, P_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            xb = _lsh_buckets(X, P_, n_tables, n_planes)
            hit = np.zeros((len(X), len(qids_)), dtype=bool)
            for t in range(n_tables):
                h = xb[:, t][:, None] ^ qb[None, :, t]
                # probe = the query bucket, plus every 1-bit flip of it
                hit |= (h & (h - 1)) == 0 if multiprobe_hamming >= 1 else h == 0
            ri, qi = np.nonzero(hit)
            if not len(ri):
                continue
            dot = np.zeros(len(ri))
            for j in range(Q_.shape[1]):
                dot = dot + X[ri, j] * Q_[qi, j]
            D = _cosine_dist(dot, _fold_norms(X)[ri] * qn[qi])
            # per query: (distance, id) order, NaN last, first k survive
            order = np.lexsort((ids[ri], D, qi))
            qs = qi[order]
            keep = order[np.arange(len(order)) - np.searchsorted(qs, qs) < k]
            yield pd.DataFrame(
                {"query_id": qids_[qi[keep]], "block_id": ids[ri[keep]], "distance": D[keep]}
            )

    scored = _nan_distance(
        embeddings.select(id_col, vec_col).mapInPandas(
            part, schema="query_id long, block_id long, distance double"
        )
    )
    w = topk_per_query(scored, k, id_col="block_id")
    return w.select("query_id", F.col("block_id").alias(id_col), "distance", "rank")


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 0,
    seed: int = 42,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs (a < b) with cosine similarity ≥ threshold.

    ``n_planes=0`` → exact all-pairs via BLOCKED group-pair matmul: rows
    hash into ``n_blocks`` groups; each unordered group pair (ga ≤ gb)
    becomes one ``applyInPandas`` task that BLAS-multiplies its two
    sub-blocks. Nothing is collected or broadcast — shuffle volume is
    N·n_blocks rows and per-task memory is two blocks, so ``n_blocks``
    (∝ √(N²/B²) for target block size B) is the only scale knob. The flops
    stay O(N²) because the result is exact; ``n_planes>0`` is the
    sub-quadratic LSH-bucketed path (near-dups almost surely collide in
    some probe) when approximate candidates are acceptable.

    Both paths re-score surviving candidates with the codegen'd exact
    expression so emitted values are bit-identical to the sequential-sum
    oracle (the BLAS sweep uses a small safety margin).
    """
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if n_planes == 0:
        import numpy as np
        import pandas as pd

        e = embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        g = F.pmod(F.col("_id"), F.lit(n_blocks))
        # row in group g plays side A of pairs (g, h ≥ g) and side B of (h ≤ g, g)
        lefts = e.select(
            "_id", "_v", g.alias("_pa"),
            F.explode(F.sequence(g, F.lit(n_blocks - 1))).alias("_pb"),
            F.lit(0).alias("_side"),
        )
        rights = e.select(
            "_id", "_v",
            F.explode(F.sequence(F.lit(0), g)).alias("_pa"),
            g.alias("_pb"), F.lit(1).alias("_side"),
        )
        margin = 1e-4
        chunk = 1024  # bound the similarity-matrix slice to chunk×|B| doubles

        def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            A = pdf[pdf["_side"] == 0]
            B = pdf[pdf["_side"] == 1]
            empty = pd.DataFrame({"id_a": pd.array([], dtype="int64"), "id_b": pd.array([], dtype="int64")})
            if len(A) == 0 or len(B) == 0:
                return empty
            diagonal = bool(pdf["_pa"].iat[0] == pdf["_pb"].iat[0])
            XA = np.stack(A["_v"].to_numpy()).astype(np.float64)
            XB = np.stack(B["_v"].to_numpy()).astype(np.float64)
            XA /= np.maximum(np.linalg.norm(XA, axis=1, keepdims=True), 1e-30)
            XB /= np.maximum(np.linalg.norm(XB, axis=1, keepdims=True), 1e-30)
            ids_a = A["_id"].to_numpy()
            ids_b = B["_id"].to_numpy()
            outs = []
            for lo in range(0, len(XA), chunk):
                S = XA[lo : lo + chunk] @ XB.T
                ii, jj = np.nonzero(S >= threshold - margin)
                ia, ib = ids_a[lo + ii], ids_b[jj]
                if diagonal:
                    keep = ia < ib  # same rows on both sides: each pair seen twice
                    ia, ib = ia[keep], ib[keep]
                else:
                    ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)  # disjoint groups: orient
                outs.append(pd.DataFrame({"id_a": ia.astype("int64"), "id_b": ib.astype("int64")}))
            return pd.concat(outs) if outs else empty

        cand_pairs = (
            lefts.unionAll(rights)
            .groupBy("_pa", "_pb")
            .applyInPandas(block_pairs, schema="id_a long, id_b long")
        )
        pairs = (
            cand_pairs.join(a.withColumnRenamed("id_a", "_ia"), F.col("id_a") == F.col("_ia"))
            .join(b.withColumnRenamed("id_b", "_ib"), F.col("id_b") == F.col("_ib"))
            .select("id_a", "id_b", "va", "vb")
        )
    else:
        planes = hyperplanes(len(embeddings.select(vec_col).first()[0]), n_planes, seed)
        ab = lsh_bucket(embeddings, planes, vec_col=vec_col)
        a2 = ab.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
        b2 = ab.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
        # score-then-distinct: cosine is deterministic per pair, so the
        # dedup shuffle sees only (id, id, sim) survivor rows instead of
        # every bucket collision carrying BOTH full vector payloads
        pairs = a2.join(b2, ["bucket"]).where(F.col("id_a") < F.col("id_b")).drop("bucket")
    out = (
        pairs.withColumn("cosine_sim", F.round(V.cosine_similarity("va", "vb"), 6))
        # NaN-safe: a zero-norm vector's similarity is NaN (r7 guard),
        # and Spark comparisons treat NaN as larger than any value — an
        # unguarded >= would report it as a near-dup of EVERYTHING
        .where((F.col("cosine_sim") >= threshold) & ~F.isnan("cosine_sim"))
        .select("id_a", "id_b", "cosine_sim")
    )
    # only the LSH path can emit a pair once per shared probe bucket; the
    # blocked-matmul path sees each pair in exactly one (ga, gb) task
    return out.distinct() if n_planes > 0 else out


def hamming_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact hamming top-k over binary-quantized, bit-packed signatures.

    Parity: pgvector ``<~>`` search on ``bit`` columns (bitutils.c uses
    word-wise popcount; so do we — one bit_count(xor) per 32-dim word,
    word count derived from the actual vector dimension). The scan reads
    ``ceil(dim/32)`` LONG columns instead of a float array (32× fewer
    bytes), and the distance is branch-free integer math inside codegen.
    """
    dim = len(embeddings.select(vec_col).first()[0])
    n_words = max(1, -(-dim // 32))  # ceil; trailing partial word packs short

    def packed(df, prefix):
        q = V.binary_quantize(vec_col)
        return df.select(
            "*", *[V.pack_bits(q, w).alias(f"{prefix}{w}") for w in range(n_words)]
        )

    e = packed(embeddings, "p").select(id_col, *[f"p{w}" for w in range(n_words)])
    qs = packed(queries.withColumnRenamed("query_vector", vec_col), "q").select(
        "query_id", *[f"q{w}" for w in range(n_words)]
    )
    dist = sum(
        (F.bit_count(F.col(f"p{w}").bitwiseXOR(F.col(f"q{w}"))) for w in range(n_words)),
        start=F.lit(0),
    ).cast("long")
    scored = e.join(F.broadcast(qs), how="cross").select(
        "query_id",
        F.col(id_col).alias("block_id"),
        dist.alias("distance"),
    )
    w = topk_per_query(scored, k, id_col="block_id")
    return w.select("query_id", F.col("block_id").alias(id_col), "distance", "rank")


def sparse_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    threshold: float = 0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k over magnitude-sparsified vectors (sparsevec
    search parity): both sides keep dims with |v| > threshold; distance is
    computed on the sparse representation only. The Arrow kernel scatters
    each batch's (indices, values) pairs into a dense slab and folds dot
    and norms per dim in ascending index order — the op sequence of
    ``sparse_cosine_distance``: it iterates a's stored pairs ascending
    probing b (absent → 0.0 term) and ``sparse_norm`` folds stored values
    ascending; the dense j-loop adds the same nonzero terms in the same
    order with exact-identity 0.0 terms between them. Zero denominators
    map to NaN (NaN sorts last), half-up 6-dp round."""
    from ..functions import sparse as SV

    e = embeddings.select(
        id_col, SV.sparse_from_dense(vec_col, threshold).alias("sv")
    ).select(id_col, F.col("sv.indices").alias("ie"), F.col("sv.values").alias("ve"))
    qs = queries.select(
        "query_id", SV.sparse_from_dense("query_vector", threshold).alias("sv")
    ).select("query_id", F.col("sv.indices").alias("iq"), F.col("sv.values").alias("vq"))

    def scatter(idx, vals, d):
        """(rows, d) dense slab of 1-indexed sparse pairs."""
        M = np.zeros((len(idx), d))
        for i, (iv, vv) in enumerate(zip(idx, vals)):
            if len(iv):
                M[i, np.asarray(iv, dtype=np.int64) - 1] = vv
        return M

    def prep(q_rows):
        return [r["iq"] for r in q_rows], [r["vq"] for r in q_rows]

    def score(pdf, payload):
        iq, vq = payload
        # scatter width: covers every stored index on either side; dims
        # absent from BOTH sides are zero in dot and in the stored-value
        # norms, so padding is free
        d = max([1] + [max(iv) for iv in list(pdf["ie"]) + iq if len(iv)])
        X = scatter(pdf["ie"], pdf["ve"], d)
        QM = scatter(iq, vq, d)
        dot = np.zeros((len(X), len(QM)))
        for j in range(d):
            dot = dot + X[:, j][:, None] * QM[:, j][None, :]
        return _cosine_dist(dot, _fold_norms(X)[:, None] * _fold_norms(QM)[None, :])

    return _scan_topk(e, qs, prep, score, k, id_col)


def semdedup_pairs(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.3,
    anchor_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    pairs found by clustering embeddings and comparing ONLY within a
    cluster — the comparison count drops from O(N²) to Σ|c|² while keeping
    the pairs that matter (semantic duplicates land in the same cluster).

    Deterministic two-step, same contract as ``tuning.anchor_ivf_curve``:

    - ``centroids=None`` → ANCHOR-grid centroids (the first ``n_clusters``
      embeddings with ``id % anchor_stride == 0``) so every step is
      SQL-expressible and the driver's DuckDB oracle replays clustering,
      assignment and pair scoring end-to-end;
    - pass ``centroids`` (np.ndarray from ``ivf.kmeans_fit``) for the
      production path — same plan, learned centroids.

    Scale: assignment is a map-only pass with two interchangeable kernels —
    few clusters (the oracle regime) ride the plan as a LITERAL centroid
    array with a codegen'd argmin over 6-dp-rounded distances and
    centroid-id tie-breaks, so the SQL oracle replays it bit-for-bit; many
    clusters (SemDeDup itself ran 50k) switch to an Arrow-batched BLAS
    argmin (``mapInPandas``, same kernel as ``ivfpq_encode``'s coarse
    assign) because an interpreted array-lambda over C literal centroids
    costs O(C·d) lambda evals per row while the matmul is one vectorized
    N×C×d sweep. Either way: no join, no window, no shuffle until the pair
    join, which shuffles on ``cluster_id`` only and each task compares one
    cluster (pick ``n_clusters`` ∝ N/target so clusters stay task-sized).
    Survivor similarity is re-scored with the exact codegen expression,
    6-dp rounded with id tie-breaks (SURVEY §4 contract).

    Returns (id_a, id_b, cluster_id, cosine_sim) with id_a < id_b and
    cosine_sim ≥ threshold.
    """
    if centroids is None:
        # deterministic anchors: tiny bounded collect (n_clusters rows),
        # the same small-side contract as ivf_search's centroid collect
        anchor_rows = (
            embeddings.where(F.col(id_col) % anchor_stride == 0)
            .orderBy(id_col).limit(n_clusters)
            .select(vec_col).collect()
        )
        cmat = [[float(x) for x in r[0]] for r in anchor_rows]
    else:
        cmat = [[float(x) for x in c] for c in centroids]

    if len(cmat) <= 16:
        # oracle regime: literal-array argmin, SQL-replayable (rounded
        # distances, first-min = lowest centroid_id tie-break)
        carr = F.array(*[F.array(*[F.lit(v) for v in row]) for row in cmat])
        dists = F.transform(carr, lambda c: F.round(V.l2_distance(F.col(vec_col), c), 6))
        cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        assigned = embeddings.select(id_col, vec_col, cluster.alias("cluster_id"))
    else:
        # production regime: vectorized BLAS argmin per Arrow batch
        import pandas as pd

        spark = embeddings.sparkSession
        bc = spark.sparkContext.broadcast(np.asarray(cmat, dtype=np.float64))

        def assign(batches):
            C = bc.value
            cn = (C * C).sum(1)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                lab = (cn[None, :] - 2.0 * (X @ C.T)).argmin(1)
                yield pd.DataFrame({
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col],
                    "cluster_id": lab.astype(np.int32),
                })

        assigned = embeddings.select(id_col, vec_col).mapInPandas(
            assign, schema=f"{id_col} long, {vec_col} array<float>, cluster_id int"
        )
    a = assigned.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cluster_id")
    b = assigned.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "cluster_id")
    return (
        a.join(b, ["cluster_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(V.cosine_similarity("va", "vb"), 6))
        # NaN-safe (see cosine_neardup_pairs): NaN >= threshold is true
        .where((F.col("cosine_sim") >= threshold) & ~F.isnan("cosine_sim"))
        .select("id_a", "id_b", "cluster_id", "cosine_sim")
    )


def hamming_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    expansion: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantize + rerank (pgvector 0.7's ``binary_quantize``
    expression-index recipe): a bit-packed hamming scan produces a
    k·expansion shortlist (the corpus is read at 1 bit/dim — 32× smaller
    than float32), then the float vectors are fetched ONLY for the
    shortlist and exactly re-ranked by L2.

    The two-stage shape mirrors ``pq_search_refined``; both stages are
    deterministic (integer hamming + 6-dp L2, id tie-breaks), so the whole
    pipeline has an exact SQL oracle — unlike IVF/PQ whose codebooks are
    float-iterative."""
    from ..functions import vector as V
    from .knn import topk_per_query

    shortlist = hamming_topk(embeddings, queries, k=k * expansion, id_col=id_col).select(
        "query_id", id_col
    )
    rescored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("block_id"),
            F.round(V.l2_distance(vec_col, "query_vector"), 6).alias("distance"),
        )
    )
    w = topk_per_query(rescored, k, id_col="block_id")
    return w.select("query_id", F.col("block_id").alias(id_col), "distance", "rank")


def median_bit_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """A12: binary quantization with LEARNED per-dim thresholds — bit_i =
    (x_i > median_i) instead of A9's sign bit. Median thresholds balance
    every bit to ~50/50, maximizing the entropy of the 64-bit code (the
    pgvector-0.8 / RaBitQ-direction upgrade over sign quantization; for
    mean-centered data the two coincide, for shifted dims sign bits
    saturate and carry nothing).

    The thresholds are one exact interpolated-percentile pass (the F10
    aggregate — DuckDB quantile_cont parity), collected dim-sized and
    inlined; packing, XOR+popcount hamming, and the (distance, id) rank
    mirror the A9 path exactly.
    """
    meds_row = embeddings.agg(
        *[
            F.percentile(F.element_at(F.col(vec_col), i + 1), F.lit(0.5)).alias(f"m{i}")
            for i in range(dim)
        ]
    ).first()
    med = [float(meds_row[f"m{i}"]) for i in range(dim)]

    def pack(col: str, off: int):
        word = F.lit(0).cast("long")
        for i in range(32):
            word = word + (
                (F.element_at(F.col(col), off + i + 1).cast("double") > F.lit(med[off + i]))
                .cast("long") * F.lit(1 << i)
            )
        return word

    e = embeddings.select(
        id_col, pack(vec_col, 0).alias("p0"), pack(vec_col, 32).alias("p1")
    )
    q = queries.select(
        "query_id", pack("query_vector", 0).alias("q0"), pack("query_vector", 32).alias("q1")
    )
    scored = e.join(F.broadcast(q), how="cross").select(
        "query_id",
        id_col,
        (
            F.bit_count(F.col("p0").bitwiseXOR(F.col("q0")))
            + F.bit_count(F.col("p1").bitwiseXOR(F.col("q1")))
        ).cast("long").alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "distance", "rank")
    )


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """A11: per-dimension affine scalar quantization (faiss SQ8 /
    Milvus SQ8 tier) + asymmetric search — the missing rung between fp16
    (A10) and product quantization (D6) on the compression ladder:
    4 bytes → 1 byte per dim with per-dim [min, max] ranges trained on
    the corpus, query side kept float (ADC-style asymmetric distance
    against the dequantized code).

    code_i = round((x_i − mn_i) · 255 / (mx_i − mn_i)); x̂_i = mn_i +
    code_i·span_i/255; distance = round(l2(q, x̂), 6), rank by (d, id).
    The per-dim stats are EXACT min/max aggregates, so the DuckDB oracle
    recomputes them relationally and replays encode + dequant + rank
    value-for-value (the arithmetic stays in source order).

    Scale: stats = one map-side-combinable pass (dim aggregates); encode
    and search are pure codegen over the scan; stats/queries broadcast.
    """
    stats = embeddings.agg(
        *[F.min(F.element_at(F.col(vec_col), i + 1)).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.element_at(F.col(vec_col), i + 1)).alias(f"mx{i}") for i in range(dim)],
    ).first()
    mn = [float(stats[f"mn{i}"]) for i in range(dim)]
    # degenerate dims (mx == mn) get span 1.0 so codes land on 0 — the
    # oracle replicates with CASE WHEN mx = mn THEN 1.0
    span = [(float(stats[f"mx{i}"]) - float(stats[f"mn{i}"])) or 1.0 for i in range(dim)]
    mn_lit = F.array(*[F.lit(v) for v in mn])
    span_lit = F.array(*[F.lit(v) for v in span])

    codes = F.zip_with(
        F.zip_with(F.col(vec_col), mn_lit, lambda x, m: x.cast("double") - m),
        span_lit,
        lambda d, s: F.round(d * 255.0 / s, 0).cast("long"),
    )
    dequant = F.zip_with(
        F.zip_with(codes, span_lit, lambda c, s: c.cast("double") * s / 255.0),
        mn_lit,
        lambda a, m: a + m,
    )
    enc = embeddings.select(F.col(id_col), dequant.alias("_xhat"))
    scored = enc.join(F.broadcast(queries.select("query_id", "query_vector")), how="cross").select(
        "query_id",
        F.col(id_col).alias("block_id"),
        (F.round(V.l2_distance("_xhat", "query_vector"), 6) + F.lit(0.0)).alias("distance"),
    )
    return (
        topk_per_query(scored, k, id_col="block_id")
        .select("query_id", F.col("block_id").alias(id_col), "distance",
                F.col("rank").cast("long").alias("rank"))
    )
