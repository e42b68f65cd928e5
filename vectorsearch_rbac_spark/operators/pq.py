"""Product quantization (SURVEY.md §2 D6): the memory-compression half of
IVF-PQ, the index family the reference's HNSW/IVF line points at for
beyond-RAM scale.

Parity rationale: the reference keeps full float vectors per partition
(dynamic_partition/hnsw); at 100 TB the scan cost is dominated by vector
bytes. PQ stores an m-byte code per vector (here m=8 codes over 64 dims =
32× compression vs float32) and answers queries with asymmetric distance
computation (ADC): one lookup-table build per query, then distance = sum of
m table lookups per candidate — no float vector is ever read at search time.

Spark mapping:
- codebook training: driver-side numpy on a bounded sample (same contract
  as ``ivf.kmeans_fit`` — pgvector ivfbuild.c-style sampling);
- encoding: one ``mapInPandas`` pass (argmin over ksub sub-centroids is a
  vectorized numpy reduction — the documented Pandas-UDF escape hatch);
- search: one Arrow pass over the codes — the per-query ADC tables build
  once on the driver (dim-sized query side) and broadcast, each batch
  gathers its codes' table entries for every query at once, and only the
  per-batch top-k reaches the rank merge; no float vector is read.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 10,
    sample_per_code: int = 64,
    seed: int = 42,
) -> np.ndarray:
    """Train per-subspace codebooks: split dim into ``m`` equal subspaces,
    k-means (``ksub`` centroids) in each. Returns (m, ksub, dsub) float64.

    Driver-side on a bounded sample (ksub·sample_per_code rows), mirroring
    the IVF build contract — training data is small by design; encoding and
    search stay distributed.
    """
    target = ksub * sample_per_code
    n = embeddings.count()
    frac = min(1.0, (target * 1.2) / max(n, 1))
    # CONTENT-deterministic sample: Bernoulli sample() draws per-row from a
    # per-partition RNG stream, so its membership depends on row ORDER
    # within partitions — nondeterministic downstream of joins/aggregates.
    # TakeOrdered by a content hash is a uniform pseudo-random draw that
    # depends only on the data (bit-identical build every run).
    sample = (
        embeddings.select(vec_col)
        .orderBy(F.xxhash64(F.concat_ws(",", F.col(vec_col).cast("array<string>")), F.lit(seed)))
        .limit(target)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    return _codebooks_from_sample(X, m, ksub, max_iter, seed)


def _codebooks_from_sample(X: np.ndarray, m: int, ksub: int, max_iter: int, seed: int) -> np.ndarray:
    """Per-subspace k-means on an in-memory sample (shared by raw-vector
    ``pq_train`` and residual ``ivfpq_train``)."""
    if len(X) < ksub:
        raise ValueError(f"sample ({len(X)}) smaller than ksub ({ksub})")
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), ksub, replace=False)]
        for _ in range(max_iter):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            lab = d.argmin(1)
            newC = np.array([S[lab == k].mean(0) if (lab == k).any() else C[k] for k in range(ksub)])
            if np.allclose(newC, C):
                break
            C = newC
        books[j] = C
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): nearest sub-centroid per subspace, as array<int>.

    One Arrow-batched pass; the codebooks broadcast once per executor. The
    output is the 32×-smaller representation the search scans.
    """
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = bc.value
        m, ksub, dsub = B.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                d = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "codes": list(codes)})

    return embeddings.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} long, codes array<int>"
    )


def _subspace_luts(Q: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(|Q|, m, ksub) ADC tables, lut[q][j][c] = ||Q[q]_subj − B[j][c]||²."""
    m, ksub, dsub = codebooks.shape
    lut = np.empty((len(Q), m, ksub))
    for j in range(m):
        lut[:, j, :] = (
            (codebooks[j][None, :, :] - Q[:, None, j * dsub : (j + 1) * dsub]) ** 2
        ).sum(-1)
    return lut


def _residual_lut(r: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(m, ksub) residual ADC table for one (query − centroid) vector —
    shared by :func:`_routed_query_luts` and :func:`_ivfpq_scores_numpy`,
    so the kernel and its in-plan fallback score with one op sequence."""
    m, ksub, dsub = codebooks.shape
    t = np.empty((m, ksub))
    for j in range(m):
        t[j] = ((codebooks[j] - r[j * dsub : (j + 1) * dsub]) ** 2).sum(-1)
    return t


def pq_search(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over PQ codes: distance = Σ_j luts[j][code_j], summed in
    j-order from 0.0 and rounded half-up to 6 dp. The scan never touches
    a float vector — only m small ints/row — and each scan partition
    emits ≤ Q·k candidates (:func:`_pq_scores_numpy`), so the global rank
    merges P·Q·k rows instead of N·Q."""
    scored = _pq_scores_numpy(codes, queries, codebooks, k, id_col)
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("block_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("block_id").alias(id_col), "distance", "rank")
    )


def _pq_scores_numpy(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int,
    id_col: str,
) -> DataFrame:
    """Stage 1 of :func:`pq_search`: per scan-partition top-k candidates
    for every query. LUTs build once on the driver (dim-sized query table,
    local_topk idiom) and broadcast; each Arrow batch gathers its codes'
    LUT entries for ALL queries at once (m fancy-index adds in C). The
    per-batch cut selects on ROUNDED distances with (distance, id) order —
    rounding half-up like Spark ROUND — so boundary ties survive to the
    global merge."""
    spark = codes.sparkSession
    q_rows = queries.select("query_id", "query_vector").collect()
    if not q_rows:
        return spark.createDataFrame([], "query_id long, block_id long, distance double")
    qids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["query_vector"], dtype=np.float64) for r in q_rows])
    m = codebooks.shape[0]
    lut = _subspace_luts(Q, codebooks)
    bc = spark.sparkContext.broadcast((qids, lut))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, L = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            # (0.0 + x0) ≡ x0 in IEEE, then adds in the fold's j-order
            D = L[:, 0, :][:, C[:, 0]]
            for j in range(1, m):
                D = D + L[:, j, :][:, C[:, j]]
            Dr = np.floor(D * 1e6 + 0.5) / 1e6 + 0.0  # distances ≥ 0
            out = _batch_topk_rows(Dr, ids, qids_, k)
            if out is not None:
                yield out

    return codes.select(id_col, "codes").mapInPandas(
        part, schema="query_id long, block_id long, distance double"
    )


def _batch_topk_rows(Dr, ids, qids, k):
    """Per-batch top-k cut shared by the Arrow ADC kernels: select on the
    ROUNDED (Q, B) distance matrix with (distance, id) order — a candidate
    threshold from argpartition, then every row at-or-below it competes
    under the deterministic order (local_topk idiom). Rows at +inf
    (masked — e.g. unprobed IVF lists) are never emitted."""
    n = Dr.shape[1]
    kk = min(k, n)
    sel_rows = []
    for qi in range(Dr.shape[0]):
        row = Dr[qi]
        if kk < n:
            thr = row[np.argpartition(row, kk - 1)[:kk]].max()
            cand = np.flatnonzero(row <= thr)
        else:
            cand = np.arange(n)
        cand = cand[np.isfinite(row[cand])]
        if not cand.size:
            continue
        keep = cand[np.lexsort((ids[cand], row[cand]))][:kk]
        sel_rows.append((qi, keep))
    if not sel_rows:
        return None
    qcol = np.concatenate([np.full(len(kp), qids[qi]) for qi, kp in sel_rows])
    icol = np.concatenate([ids[kp] for _, kp in sel_rows])
    dcol = np.concatenate([Dr[qi][kp] for qi, kp in sel_rows])
    return pd.DataFrame({"query_id": qcol, "block_id": icol, "distance": dcol})


def pq_search_refined(
    codes: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    expansion: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ + refine (the standard two-stage ANN): ADC shortlist of
    k·expansion candidates from the compressed codes (:func:`pq_search`),
    then EXACT L2 re-rank of the shortlist against the float vectors.

    This is the 100 TB read pattern: the full scan touches only m-byte
    codes; float vectors are fetched for k·expansion rows per query — a
    point-lookup-sized join, not a scan. Recall is governed by the
    expansion knob, exactness of the final ordering by the re-rank.
    """
    from ..functions import vector as V

    shortlist = pq_search(
        codes, queries, codebooks, k=k * expansion, id_col=id_col
    ).select("query_id", id_col)
    qv = queries.select("query_id", "query_vector")
    rescored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("block_id"),
            F.round(V.l2_distance(vec_col, "query_vector"), 6).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("block_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("block_id").alias(id_col), "distance", "rank")
    )


# ------------------------------------------------------------------- IVF-PQ
# The classic IVFADC composition (Jégou et al. 2011, "Product Quantization
# for Nearest Neighbor Search" — faiss's IndexIVFPQ, the structure the
# reference's vendored faiss builds for beyond-RAM corpora): a coarse IVF
# quantizer routes the search to nprobe lists, and PQ codes store the
# RESIDUAL x − c(x) rather than x itself. Residuals concentrate near 0, so
# the same m×ksub code budget quantizes them with far less error than raw
# vectors — better recall at identical scan bytes, plus the IVF pruning.


def ivfpq_train(
    embeddings: DataFrame,
    centroids: np.ndarray,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 10,
    sample_per_code: int = 64,
    seed: int = 42,
) -> np.ndarray:
    """Train PQ codebooks on coarse residuals: sample vectors (same bounded
    contract as ``pq_train``), assign each to its nearest coarse centroid,
    subtract, and k-means the residual subspaces."""
    target = ksub * sample_per_code
    n = embeddings.count()
    frac = min(1.0, (target * 1.2) / max(n, 1))
    # CONTENT-deterministic sample: Bernoulli sample() draws per-row from a
    # per-partition RNG stream, so its membership depends on row ORDER
    # within partitions — nondeterministic downstream of joins/aggregates.
    # TakeOrdered by a content hash is a uniform pseudo-random draw that
    # depends only on the data (bit-identical build every run).
    sample = (
        embeddings.select(vec_col)
        .orderBy(F.xxhash64(F.concat_ws(",", F.col(vec_col).cast("array<string>")), F.lit(seed)))
        .limit(target)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    lab = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
    return _codebooks_from_sample(X - C[lab], m, ksub, max_iter, seed)


def ivfpq_encode(
    embeddings: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, codes): coarse-assign and residual-encode in ONE
    Arrow pass (both are vectorized argmin reductions). On disk this is
    the index: parquet partitioned by ``centroid_id`` holding m-int code
    arrays — the float vectors live elsewhere and are touched only by the
    refine stage."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((np.asarray(centroids, dtype=np.float64), codebooks))

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C, B = bc.value
        m, ksub, dsub = B.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            lab = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            R = X - C[lab]
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = R[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(-1).argmin(1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "centroid_id": lab.astype(np.int32),
                "codes": list(codes),
            })

    return embeddings.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} long, centroid_id int, codes array<int>"
    )


def _routed_query_luts(
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int,
    qvec_col: str = "query_vector",
) -> DataFrame:
    """(query_id, centroid_id, _luts): one ADC table per (query, probed
    list), built on the RESIDUAL query q − c in one Arrow pass over the
    dim-sized query table (Q·nprobe rows total — broadcastable)."""
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((np.asarray(centroids, dtype=np.float64), codebooks))

    def lut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C, B = bc.value
        m, ksub, dsub = B.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf[qvec_col].to_numpy()).astype(np.float64)
            qids, cids, luts = [], [], []
            for qi in range(len(Q)):
                d = ((C - Q[qi][None, :]) ** 2).sum(-1)
                for cid in np.argsort(d)[:nprobe]:
                    qids.append(pdf["query_id"].iat[qi])
                    cids.append(int(cid))
                    luts.append(list(_residual_lut(Q[qi] - C[cid], B)))
            yield pd.DataFrame({"query_id": qids, "centroid_id": cids, "_luts": luts})

    return queries.select("query_id", qvec_col).mapInPandas(
        lut, schema="query_id long, centroid_id int, _luts array<array<double>>"
    )


# Above this many bytes the residual LUT does not ride one broadcast
# tensor: ivfpq_search scores in the plan instead (see _ivfpq_scores_numpy).
_IVFPQ_LUT_BROADCAST_MAX = 256 << 20


def ivfpq_search(
    codes: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC top-k: each code row is scored ONLY against queries probing
    its list (partition pruning when the codes are laid out by
    centroid_id), with the ADC sum over m ints. No float vector and no
    unprobed list is ever read.

    The Arrow kernel (:func:`_ivfpq_scores_numpy`, same pattern as
    :func:`pq_search`) builds the residual LUTs once on the driver, each
    batch gathers LUT[q, list(row), j, code(row, j)] for every query at
    once, unprobed (query, list) pairs mask to +inf and are never
    emitted. When that LUT broadcast would pass
    ``_IVFPQ_LUT_BROADCAST_MAX``, the (query, probed list) LUT rows
    instead broadcast-join the code table on ``centroid_id`` and the sum
    is a codegen'd zip_with/aggregate — same op sequence (the LUT rows
    come from the same :func:`_residual_lut`, the adds run in j-order),
    same rows."""
    scored = _ivfpq_scores_numpy(codes, queries, centroids, codebooks, k, nprobe, id_col)
    if scored is None:
        luts = _routed_query_luts(queries, centroids, codebooks, nprobe)
        scored = codes.join(F.broadcast(luts), "centroid_id").select(
            "query_id",
            F.col(id_col).alias("block_id"),
            F.round(
                F.aggregate(
                    F.zip_with("codes", "_luts", lambda c, l: F.element_at(l, c + 1)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("distance"),
        )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("block_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("block_id").alias(id_col), "distance", "rank")
    )


def _ivfpq_scores_numpy(
    codes: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int,
    nprobe: int,
    id_col: str,
) -> DataFrame | None:
    """Stage 1 of :func:`ivfpq_search`. The residual LUT is SPARSE,
    keyed by (query, probe slot): a (Q, nprobe, m, ksub) float64 array —
    the inherent payload, NOT the (Q, nlists, m, ksub) dense cube whose
    broadcast grows with nlists (~sqrt(N) in ivfpq callers) — plus a
    (Q, nlists) int32 list→slot map (-1 = unprobed). Each batch's gather
    stays one fancy-index per subspace; unprobed (query, list) pairs mask
    to +inf and are never emitted. Probe order and LUT values reuse
    _routed_query_luts' exact op sequence, and the adds run in the same
    j-order, so rows are bit-identical to the in-plan fallback.

    Returns None when even the sparse broadcast would exceed
    ``_IVFPQ_LUT_BROADCAST_MAX`` — the caller then scores in the plan
    (the LUT rides the broadcast join row by row instead of as one dense
    tensor)."""
    spark = codes.sparkSession
    q_rows = queries.select("query_id", "query_vector").collect()
    if not q_rows:
        return spark.createDataFrame([], "query_id long, block_id long, distance double")
    qids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["query_vector"], dtype=np.float64) for r in q_rows])
    C = np.asarray(centroids, dtype=np.float64)
    B = codebooks
    m, ksub = B.shape[0], B.shape[1]
    nlists = C.shape[0]
    n_q = len(qids)
    if n_q * (nprobe * m * ksub * 8 + nlists * 4) > _IVFPQ_LUT_BROADCAST_MAX:
        return None
    lut = np.zeros((n_q, nprobe, m, ksub))
    slot = np.full((n_q, nlists), -1, dtype=np.int32)
    for qi in range(n_q):
        d = ((C - Q[qi][None, :]) ** 2).sum(-1)
        for s, cid in enumerate(np.argsort(d)[:nprobe]):
            # _residual_lut: the ONE residual op sequence (_routed_query_luts shares it)
            lut[qi, s] = _residual_lut(Q[qi] - C[cid], B)
            slot[qi, cid] = s
    bc = spark.sparkContext.broadcast((qids, slot, lut))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, S_, L = bc.value
        qidx = np.arange(len(qids_))[:, None]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            lists = pdf["centroid_id"].to_numpy().astype(np.int64)
            ids = pdf[id_col].to_numpy()
            S = S_[:, lists]  # (Q, rows) probe slot, -1 = unprobed
            valid = S >= 0
            Sc = np.where(valid, S, 0)
            D = L[qidx, Sc, 0, Cd[:, 0][None, :]]
            for j in range(1, m):
                D = D + L[qidx, Sc, j, Cd[:, j][None, :]]
            D = np.where(valid, D, np.inf)
            Dr = np.floor(D * 1e6 + 0.5) / 1e6 + 0.0
            out = _batch_topk_rows(Dr, ids, qids_, k)
            if out is not None:
                yield out

    return codes.select(id_col, "centroid_id", "codes").mapInPandas(
        part, schema="query_id long, block_id long, distance double"
    )


def ivfpq_search_refined(
    codes: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    expansion: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC + exact refine: ADC shortlist of k·expansion per query from
    the probed lists (:func:`ivfpq_search`), then exact L2 re-rank
    against the floats — the standard beyond-RAM serving shape (scan
    bytes: m ints/vector over nprobe/nlists of the corpus; float reads:
    k·expansion rows/query)."""
    from ..functions import vector as V

    shortlist = ivfpq_search(
        codes, queries, centroids, codebooks, k=k * expansion, nprobe=nprobe,
        id_col=id_col,
    ).select("query_id", id_col)
    qv = queries.select("query_id", "query_vector")
    rescored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("block_id"),
            F.round(V.l2_distance(vec_col, "query_vector"), 6).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("block_id").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("block_id").alias(id_col), "distance", "rank")
    )


# ------------------------------------------------------- anchor-exact PQ
def pq_anchor_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int = 8,
    ksub: int = 16,
    k: int = 10,
    expansion: int = 4,
    anchor_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PQ encode → ADC-shortlist → exact-refine pipeline with every
    step SQL-expressible, so the DuckDB oracle replays it end-to-end
    (the certification companion to ``pq_search_refined``, exactly as
    ``tuning.anchor_ivf_curve`` certifies the IVF machinery: k-means
    codebooks are float-iterative, so this variant swaps them for
    ANCHOR codewords chosen arithmetically — codeword c of subspace j is
    the j-th subvector of the c-th anchor embedding).

    Cross-engine determinism: every sub-distance is rounded to 6 dp and
    scaled to integer MICRO units before any aggregation, so the encode
    argmin (min by (micro, cid)) and the ADC sum (BIGINT, order-free)
    are bit-exact however either engine orders the work — the float
    tolerance surface is exactly the repo-wide ROUND(...,6) contract,
    never a float accumulation order.

    Scale: the encode explode is N·ksub·m rows of one fused codegen
    stage (a certification-path cost; the production encode is the
    Arrow ``pq_encode``); ADC joins the (N·m) code rows to a broadcast
    Q·m LUT and the float vectors are fetched only for the k·expansion
    shortlist, the same read pattern as the production path.
    """
    from ..functions import vector as V

    dim = len(embeddings.select(vec_col).first()[0])
    dsub = dim // m
    w_anchor = Window.orderBy(id_col)
    anchors = (
        embeddings.where(F.col(id_col) % anchor_stride == 0)
        .orderBy(id_col).limit(ksub)
        .select((F.row_number().over(w_anchor) - 1).alias("cid"),
                F.col(vec_col).alias("_a"))
    )

    def micro_subdist(vcol: str, acol: str, j: int) -> F.Column:
        sub_v = F.slice(F.col(vcol), j * dsub + 1, dsub)
        sub_a = F.slice(F.col(acol), j * dsub + 1, dsub)
        d2 = F.aggregate(
            F.zip_with(sub_v, sub_a, lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double"))),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        return F.round(d2 * 1000000, 0).cast("long")

    def codes_for(df: DataFrame, idc: str, vcol: str) -> DataFrame:
        """(id, j, cid): argmin codeword per subspace, ties by cid."""
        sub = df.select(idc, vcol).join(F.broadcast(anchors), how="cross").select(
            idc, "cid",
            F.posexplode(F.array(*[micro_subdist(vcol, "_a", j) for j in range(m)]))
            .alias("j", "micro"),
        )
        w = Window.partitionBy(idc, "j").orderBy(F.col("micro").asc(), F.col("cid").asc())
        return (
            sub.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(idc, "j", "cid")
        )

    codes = codes_for(embeddings, id_col, vec_col)
    luts = queries.select("query_id", "query_vector").join(
        F.broadcast(anchors), how="cross"
    ).select(
        "query_id", "cid",
        F.posexplode(F.array(*[micro_subdist("query_vector", "_a", j) for j in range(m)]))
        .alias("j", "micro"),
    )
    adc = (
        codes.join(F.broadcast(luts), ["j", "cid"])
        .groupBy("query_id", id_col)
        .agg(F.sum("micro").alias("adc_micro"))
    )
    w_short = Window.partitionBy("query_id").orderBy(F.col("adc_micro").asc(), F.col(id_col).asc())
    shortlist = (
        adc.withColumn("_rn", F.row_number().over(w_short))
        .where(F.col("_rn") <= k * expansion)
        .select("query_id", id_col)
    )
    rescored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id", id_col,
            (F.round(V.l2_distance(vec_col, "query_vector"), 6) + F.lit(0.0)).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "distance", "rank")
    )


def ivfpq_anchor_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    nlist: int = 8,
    m: int = 8,
    ksub: int = 16,
    nprobe: int = 4,
    k: int = 10,
    expansion: int = 4,
    coarse_stride: int = 53,
    anchor_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVFADC pipeline — coarse route → residual encode → ADC
    over probed lists → exact refine — with every step SQL-expressible,
    completing the certification ladder over D11 the way
    ``pq_anchor_topk`` certifies D6: k-means coarse centroids and
    residual codebooks are float-iterative, so this variant swaps BOTH
    for arithmetic anchors (coarse centroid c = the c-th
    stride-``coarse_stride`` embedding; residual codeword c of subspace
    j = the j-th subvector of the c-th stride-``anchor_stride``
    embedding MINUS its own coarse centroid — a genuine residual
    codebook). The DuckDB oracle replays coarse argmin, residual
    encode argmin, nprobe routing, per-list residual LUTs, the BIGINT
    ADC sum, shortlist, and refine value-for-value.

    Same cross-engine determinism contract as ``pq_anchor_topk``: every
    distance is micro-integerized (ROUND(d²·10⁶)) BEFORE any argmin or
    sum, ties always break by id, and only the probed lists' codes are
    ever scored (the join on the coarse assignment IS the partition
    pruning the production path gets from centroid_id layout).

    At max knobs (nprobe = nlist, expansion ≥ n/k) the shortlist is the
    whole corpus and the result provably equals brute force — the pytest
    exactness check."""
    from ..functions import vector as V

    dim = len(embeddings.select(vec_col).first()[0])
    dsub = dim // m

    def micro(col: F.Column) -> F.Column:
        return F.round(col * 1000000, 0).cast("long")

    w_c = Window.orderBy(id_col)
    coarse = (
        embeddings.where(F.col(id_col) % coarse_stride == 0)
        .orderBy(id_col).limit(nlist)
        .select((F.row_number().over(w_c) - 1).alias("ccid"),
                F.col(vec_col).alias("_c"))
    )

    def assign(df: DataFrame, idc: str, vcol: str) -> DataFrame:
        """(id, ccid, residual): nearest coarse anchor by micro-L2, ties
        by ccid; residual = v − c elementwise."""
        w = Window.partitionBy(idc).orderBy(F.col("_cm").asc(), F.col("ccid").asc())
        return (
            df.select(idc, vcol).join(F.broadcast(coarse), how="cross")
            .withColumn("_cm", micro(V.l2_squared(F.col(vcol), F.col("_c"))))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                idc, "ccid",
                F.zip_with(vcol, "_c",
                           lambda x, y: x.cast("double") - y.cast("double")).alias("_r"),
            )
        )

    # residual codebook: the ksub anchor embeddings, each reduced by ITS
    # OWN coarse centroid (so codewords live in residual space)
    w_a = Window.orderBy(id_col)
    anchor_rows = (
        embeddings.where(F.col(id_col) % anchor_stride == 0)
        .orderBy(id_col).limit(ksub)
        .select((F.row_number().over(w_a) - 1).alias("cid"),
                F.col(id_col).alias("_aid"), F.col(vec_col).alias("_av"))
    )
    anchors = (
        assign(anchor_rows, "_aid", "_av")
        .join(anchor_rows.select("cid", "_aid"), "_aid")
        .select("cid", F.col("_r").alias("_a"))
    )

    def sub_micro(vcol: str, acol: str, j: int) -> F.Column:
        sv = F.slice(F.col(vcol), j * dsub + 1, dsub)
        sa = F.slice(F.col(acol), j * dsub + 1, dsub)
        return micro(F.aggregate(
            F.zip_with(sv, sa, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x,
        ))

    assigned = assign(embeddings, id_col, vec_col)
    ecand = assigned.join(F.broadcast(anchors), how="cross").select(
        id_col, "ccid", "cid",
        F.posexplode(F.array(*[sub_micro("_r", "_a", j) for j in range(m)]))
        .alias("j", "_micro"),
    )
    w_code = Window.partitionBy(id_col, "j").orderBy(F.col("_micro").asc(), F.col("cid").asc())
    codes = (
        ecand.withColumn("_rn", F.row_number().over(w_code))
        .where(F.col("_rn") == 1)
        .select(id_col, "ccid", "j", "cid")
    )

    # query routing: nprobe nearest coarse anchors, residual per probed list
    w_route = Window.partitionBy("query_id").orderBy(F.col("_cm").asc(), F.col("ccid").asc())
    routed = (
        queries.select("query_id", "query_vector").join(F.broadcast(coarse), how="cross")
        .withColumn("_cm", micro(V.l2_squared(F.col("query_vector"), F.col("_c"))))
        .withColumn("_rn", F.row_number().over(w_route))
        .where(F.col("_rn") <= nprobe)
        .select(
            "query_id", "ccid",
            F.zip_with("query_vector", "_c",
                       lambda x, y: x.cast("double") - y.cast("double")).alias("_rq"),
        )
    )
    luts = routed.join(F.broadcast(anchors), how="cross").select(
        "query_id", "ccid", "cid",
        F.posexplode(F.array(*[sub_micro("_rq", "_a", j) for j in range(m)]))
        .alias("j", "_micro"),
    )
    adc = (
        codes.join(F.broadcast(luts), ["ccid", "j", "cid"])
        .groupBy("query_id", id_col)
        .agg(F.sum("_micro").alias("adc_micro"))
    )
    w_short = Window.partitionBy("query_id").orderBy(F.col("adc_micro").asc(), F.col(id_col).asc())
    shortlist = (
        adc.withColumn("_rn", F.row_number().over(w_short))
        .where(F.col("_rn") <= k * expansion)
        .select("query_id", id_col)
    )
    rescored = (
        shortlist.join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select("query_id", "query_vector")), "query_id")
        .select(
            "query_id", id_col,
            (F.round(V.l2_distance(vec_col, "query_vector"), 6) + F.lit(0.0)).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "distance", "rank")
    )
