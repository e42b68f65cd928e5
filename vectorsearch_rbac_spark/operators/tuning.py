"""Search-parameter tuning: recall/cost curves, model fit, knob selection.

Reference parity (re-expressed, not ported):

- ``controller/dynamic_partition/hnsw/analysis/analysis_hnsw_recall.py:279``
  (``piecewise_recall_model`` — linear ramp then shifted sigmoid, params
  ``(k, beta)``, fit with curve_fit at :309) and :331
  (``plot_average_recall_with_piecewise_fit`` — measure recall at a ladder
  of ef_search values, then fit).
- ``controller/dynamic_partition/hnsw/analysis/analysis_hnsw_qps.py:260``
  (``fit_query_time_function_with_log`` — cost is linear in the knob:
  ``time/log(n) = a·ef_search + b``).
- ``controller/dynamic_partition/get_parameter.py:188``
  (``save_parameter_to_json`` — persists ``{k, beta, a, b}`` for the
  partition controller to pick per-partition ef_search).
- ``controller/dynamic_partition/hnsw/validate/modelrecall_vs_realrecall.py``
  (predicted-vs-measured validation).

Spark-first design: the reference measures its recall curve by re-running
the search once per ef_search value (a psycopg2 loop, one round trip per
knob setting). Here the IVF knob is ``nprobe``, and the ENTIRE
multi-nprobe curve — recall@k AND rows-scanned per nprobe — comes out of
ONE candidate scan: each candidate row knows the rank of its list for its
query, so ``explode(filter(nprobes, n -> n > probe_rank))`` replicates it
JVM-side to exactly the nprobe settings that would scan it, and a single
window pass ranks every (nprobe, query) group at once. The model fit then
runs driver-side on the tiny (|nprobes|-row) curve — numpy grid
refinement, no scipy dependency.

The cost model's response is rows scanned per query rather than measured
wall-time: on a cluster, scan cost is what the knob actually buys, it is
deterministic (same number on local[32] and on 1000 executors), and it is
the quantity the reference's ``a·ef + b`` is a proxy for.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V
from ..sources import literal_df


# ---------------------------------------------------------------------------
# Curve measurement (distributed, one pass)
# ---------------------------------------------------------------------------

def _probe_ranks(queries: DataFrame, centroids: np.ndarray, max_nprobe: int) -> list[tuple[int, int, int]]:
    """(query_id, centroid_id, probe_rank) for each query's max_nprobe
    nearest lists — tiny (Q × nprobe), built driver-side like
    ``ivf.nearest_centroids`` and broadcast into the candidate join."""
    rows = queries.select("query_id", "query_vector").collect()
    out = []
    for r in rows:
        q = np.asarray(r["query_vector"], dtype=np.float64)
        d = ((centroids - q[None, :]) ** 2).sum(1)
        for rank, cid in enumerate(np.argsort(d)[:max_nprobe]):
            out.append((int(r["query_id"]), int(cid), rank))
    return out


def recall_cost_curve(
    indexed_blocks: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    truth: DataFrame,
    k: int = 10,
    nprobes: list[int] | None = None,
) -> DataFrame:
    """Measure (nprobe, recall@k, avg rows scanned, scan fraction) for every
    nprobe in one candidate scan + one window pass, under L2.

    ``truth`` is the exact top-k rank list (query_id, block_id) — typically
    ``knn.knn_topk_fast``; recall@k = |pred ∩ truth| / |truth| per query,
    averaged (``common_function.py:1154`` definition). The Q·N scoring
    pass is the Arrow kernel :func:`_pair_scores`.
    """
    spark = indexed_blocks.sparkSession
    nlists = len(centroids)
    nprobes = sorted(set(nprobes or range(1, nlists + 1)))
    max_np = min(max(nprobes), nlists)

    probes = literal_df(
        spark,
        _probe_ranks(queries, centroids, max_np),
        "query_id long, centroid_id int, probe_rank int",
    )

    # Score each (query, candidate) ONCE at the widest setting — the
    # distance does not depend on nprobe — then PRE-CUT to the top-k per
    # (query, probed list) BEFORE fanning out over the nprobe ladder:
    # the top-k of a union of lists equals the top-k of the per-list
    # top-k's (same (distance, id) comparator), so the curve is
    # unchanged while the ladder explode runs over Q·nlists·k rows
    # instead of replicating the full Q·N candidate scan ~nlists/2×.
    # The corpus is pair-scored ONCE per batch (vectors cross the Arrow
    # boundary once, not once per (q, vec) row) with centroid_id carried
    # through; the inner join on the dim-sized probes keeps only the
    # probed (query, list) pairs and attaches their probe rank.
    scored = (
        _pair_scores(
            indexed_blocks, queries, id_col="block_id", vec_col="vector",
            carry_schema="centroid_id int",
        )
        .join(F.broadcast(probes), ["query_id", "centroid_id"])
        .select("probe_rank", "query_id", "block_id", "distance")
    )
    wl = Window.partitionBy("query_id", "probe_rank").orderBy(
        F.col("distance").asc(), F.col("block_id").asc()
    )
    percut = (
        scored.withColumn("_lr", F.row_number().over(wl))
        .where(F.col("_lr") <= k).drop("_lr")
    )
    np_arr = F.array(*[F.lit(int(n)) for n in nprobes])
    exploded = percut.withColumn(
        "nprobe", F.explode(F.filter(np_arr, lambda n: n > F.col("probe_rank")))
    ).drop("probe_rank")

    # scan counts from per-list sizes (dim-sized aggregate) — the exact
    # integer sum the exploded-candidate count used to produce
    sizes = indexed_blocks.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_blocks")
    )
    scanned = (
        probes.join(F.broadcast(sizes), "centroid_id")
        .withColumn(
            "nprobe", F.explode(F.filter(np_arr, lambda n: n > F.col("probe_rank")))
        )
        .groupBy("nprobe")
        .agg((F.sum("n_blocks") / queries.count()).alias("avg_scanned"))
    )

    w = Window.partitionBy("nprobe", "query_id").orderBy(F.col("distance").asc(), F.col("block_id").asc())
    pred = exploded.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)

    hits = pred.join(
        F.broadcast(truth.select("query_id", "block_id")), ["query_id", "block_id"]
    ).groupBy("nprobe", "query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    n_truth = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    # every (nprobe, query) pair scores, including zero-hit ones
    grid = literal_df(spark, [(int(n),) for n in nprobes], "nprobe int").crossJoin(
        F.broadcast(n_truth)  # ladder × per-query truth counts: both dim-sized, broadcast the bigger
    )
    per_q = grid.join(F.broadcast(hits), ["nprobe", "query_id"], "left").select(
        "nprobe", (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth")).alias("recall")
    )
    recall = per_q.groupBy("nprobe").agg(F.round(F.avg("recall"), 6).alias("recall_at_k"))

    n_corpus = indexed_blocks.count()
    return (
        recall.join(F.broadcast(scanned), "nprobe")
        .select(
            "nprobe",
            "recall_at_k",
            F.round("avg_scanned", 2).alias("avg_scanned"),
            F.round(F.col("avg_scanned") / n_corpus, 6).alias("scan_frac"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# Model fit (driver-side; curve is |nprobes| rows)
# ---------------------------------------------------------------------------

def piecewise_recall_model(x, kp: float, beta: float, topk: int, sel: float):
    """Linear ramp → shifted sigmoid, the reference's functional form
    (``analysis_hnsw_recall.py:279``): transition at ``x_c = kp·topk/sel``,
    linear slope ``sel/topk``, sigmoid rate ``beta·4·sel/topk``.

    For IVF we feed x = nprobe and sel = topk × (initial recall gained per
    probed list), so the linear regime matches the measured ramp; (kp, beta)
    are the fitted free parameters exactly as in the reference.
    """
    x = np.asarray(x, dtype=np.float64)
    x_c = kp * topk / sel
    b = beta * 4 * sel / topk
    shift = x_c * sel / topk - 0.5
    lin = x * sel / topk
    sig = 1.0 / (1.0 + np.exp(-b * (x - x_c))) + shift
    return np.where(x <= x_c, lin, np.minimum(sig, 1.0))


def fit_recall_model(nprobes, recalls, topk: int = 10) -> dict:
    """Least-squares fit of (kp, beta) by two-stage grid refinement (the
    no-scipy stand-in for ``curve_fit`` at ``analysis_hnsw_recall.py:309``;
    deterministic). Returns {k, beta, sel, topk, mae}."""
    x = np.asarray(list(nprobes), dtype=np.float64)
    y = np.asarray(list(recalls), dtype=np.float64)
    # anchor the linear slope on the first measured point (reference anchors
    # via sel = block selectivity; the IVF analog is recall per probed list)
    sel = float(np.clip(y[0] / max(x[0], 1e-9), 1e-6, 1.0) * topk)

    def sse(kps, betas):
        P = piecewise_recall_model(x, kps[:, None, None], betas[None, :, None], topk, sel)
        return ((P - y[None, None, :]) ** 2).sum(-1)

    kps = np.linspace(0.05, 1.0, 60)
    betas = np.linspace(0.05, 8.0, 60)
    for _ in range(3):
        E = sse(kps, betas)
        i, j = np.unravel_index(int(E.argmin()), E.shape)
        kp, beta = float(kps[i]), float(betas[j])
        dk = (kps[-1] - kps[0]) / len(kps)
        db = (betas[-1] - betas[0]) / len(betas)
        kps = np.linspace(max(kp - 2 * dk, 1e-3), kp + 2 * dk, 40)
        betas = np.linspace(max(beta - 2 * db, 1e-3), beta + 2 * db, 40)
    pred = piecewise_recall_model(x, kp, beta, topk, sel)
    return {
        "k": round(kp, 4),
        "beta": round(beta, 4),
        "sel": round(sel, 6),
        "topk": topk,
        "mae": round(float(np.abs(pred - y).mean()), 4),
    }


def fit_cost_model(nprobes, avg_scanned) -> dict:
    """Linear cost-in-the-knob fit, ``analysis_hnsw_qps.py:260`` parity:
    the reference fits ``time/log(n) = a·ef + b``; the deterministic Spark
    analog is rows-scanned-per-query = a·nprobe + b."""
    x = np.asarray(list(nprobes), float)
    y = np.asarray(list(avg_scanned), float)
    a, b = np.polyfit(x, y, 1)
    mae = float(np.abs(a * x + b - y).mean())
    return {"a": round(float(a), 4), "b": round(float(b), 4), "mae": round(mae, 4)}


def fit_cost_model_logn(nprobes, avg_scanned, n_totals) -> dict:
    """Two-feature cost fit ``cost = a·knob + b·log(n)`` — the reference's
    log(n)-shaped HNSW QPS model
    (``analysis_hnsw_qps_logn.py:24``,
    ``fit_query_time_function_with_efs_and_logn``: query_time =
    a·ef_search + b·log(n_total_rows), fit with scipy curve_fit). The
    deterministic Spark analog regresses rows-scanned-per-query on
    (nprobe, log corpus rows) by exact least squares (``lstsq`` — no
    scipy), so the fit is reproducible bit-for-bit.

    Feed points measured at MULTIPLE corpus sizes (the reference varies n
    across partitions); with a single n the log(n) column is constant and
    ``b`` degenerates to the linear model's intercept / log(n) — the
    honest single-n limit. Returns {a, b_logn, mae}."""
    x = np.asarray(list(nprobes), float)
    y = np.asarray(list(avg_scanned), float)
    n = np.asarray(list(n_totals), float)
    A = np.stack([x, np.log(np.maximum(n, 2.0))], axis=1)
    coef, *_ = np.linalg.lstsq(A, y, rcond=None)
    pred = A @ coef
    return {
        "a": round(float(coef[0]), 4),
        "b_logn": round(float(coef[1]), 4),
        "mae": round(float(np.abs(pred - y).mean()), 4),
    }


def predict_cost_logn(nprobe, n_total, model: dict) -> float:
    """Predicted rows-scanned under the log-n model (modelqps_vs_realqps
    parity: the validation side of the fit)."""
    return float(model["a"]) * float(nprobe) + float(model["b_logn"]) * float(
        np.log(max(float(n_total), 2.0))
    )


def scan_cost_points(
    indexed_blocks: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    nprobes: list[int] | None = None,
) -> DataFrame:
    """(nprobe, avg rows scanned per query) ALONE — the cost half of
    :func:`recall_cost_curve` without any distance scoring, so cost-model
    fits can sample MULTIPLE corpus sizes cheaply (the log-n QPS fit
    needs n to vary). Everything is dim-sized: per-centroid list sizes
    (nlists rows) join the per-query probe ranks (Q×nprobe rows), and
    each nprobe setting sums the list sizes it probes — no fact-table
    candidate explode, no truth pass."""
    spark = indexed_blocks.sparkSession
    nlists = len(centroids)
    nprobes = sorted(set(nprobes or range(1, nlists + 1)))
    max_np = min(max(nprobes), nlists)
    probes = literal_df(
        spark,
        _probe_ranks(queries, centroids, max_np),
        "query_id long, centroid_id int, probe_rank int",
    )
    sizes = indexed_blocks.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_blocks")
    )
    n_queries = queries.count()
    np_arr = F.array(*[F.lit(int(n)) for n in nprobes])
    return (
        probes.join(F.broadcast(sizes), "centroid_id")
        .withColumn(
            "nprobe", F.explode(F.filter(np_arr, lambda n: n > F.col("probe_rank")))
        )
        .groupBy("nprobe")
        .agg((F.sum("n_blocks") / n_queries).alias("avg_scanned"))
        .select("nprobe", F.round("avg_scanned", 2).alias("avg_scanned"))
        .orderBy("nprobe")
    )


def predict_recall(nprobe, model: dict):
    return piecewise_recall_model(
        np.asarray(nprobe, dtype=np.float64), model["k"], model["beta"], model["topk"], model["sel"]
    )


def choose_nprobe(model: dict, cost: dict, target_recall: float, nprobe_max: int) -> dict:
    """Smallest nprobe whose predicted recall meets the target (the
    controller decision ``get_parameter.py`` exists to feed), plus its
    predicted cost; falls back to nprobe_max when the target is out of
    reach."""
    grid = np.arange(1, nprobe_max + 1)
    pred = predict_recall(grid, model)
    ok = np.nonzero(pred >= target_recall)[0]
    n = int(grid[ok[0]]) if len(ok) else int(nprobe_max)
    return {
        "nprobe": n,
        "predicted_recall": round(float(predict_recall(n, model)), 4),
        "est_scanned": round(cost["a"] * n + cost["b"], 1),
        "target_recall": target_recall,
    }


def validate_model(curve_rows, model: dict) -> dict:
    """Predicted-vs-measured table + MAE
    (``validate/modelrecall_vs_realrecall.py`` parity, as data not plots)."""
    pts = [
        {
            "nprobe": int(r["nprobe"]),
            "measured": float(r["recall_at_k"]),
            "predicted": round(float(predict_recall(r["nprobe"], model)), 4),
        }
        for r in curve_rows
    ]
    mae = float(np.mean([abs(p["measured"] - p["predicted"]) for p in pts]))
    return {"points": pts, "mae": round(mae, 4)}


def tune_ivf(
    indexed_blocks: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    truth: DataFrame,
    k: int = 10,
    target_recall: float = 0.9,
    nprobes: list[int] | None = None,
) -> dict:
    """End-to-end parameter pass: measure curve → fit recall + cost models →
    choose nprobe. Returns the ``save_parameter_to_json``-shaped dict
    ({k, beta, a, b}, ``get_parameter.py:226``) plus the decision and the
    validation table."""
    curve = recall_cost_curve(
        indexed_blocks, queries, centroids, truth, k=k, nprobes=nprobes,
    )
    rows = curve.collect()
    model = fit_recall_model([r["nprobe"] for r in rows], [r["recall_at_k"] for r in rows], topk=k)
    cost = fit_cost_model([r["nprobe"] for r in rows], [r["avg_scanned"] for r in rows])
    decision = choose_nprobe(model, cost, target_recall, nprobe_max=len(centroids))
    return {
        "parameters": {"k": model["k"], "beta": model["beta"], "a": cost["a"], "b": cost["b"]},
        "model": model,
        "cost": cost,
        "decision": decision,
        "validation": validate_model(rows, model),
        "curve": [r.asDict() for r in rows],
    }


# ---------------------------------------------------------------------------
# SQL-replayable curve (driver correctness gate)
# ---------------------------------------------------------------------------

def _pair_scores(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_schema: str | None = None,
) -> DataFrame:
    """All (query_id, id, 6-dp L2 distance) pairs via an Arrow kernel —
    the Q·N scoring pass the tuning curves and their truths share. The
    per-dim accumulation runs in ``V.l2_distance``'s j-order ((0.0 + t0) ≡
    t0 in IEEE, then elementwise adds in j-order, float64 throughout),
    then sqrt and the half-up 6-dp round Spark's ``F.round`` applies, so
    the DuckDB oracle replays the values. Queries broadcast as one (Q, d)
    matrix; each corpus batch emits its R×Q long-form rows, with any
    ``carry_schema`` columns (e.g. ``"centroid_id int"``) repeated per row
    so callers can attach probe ranks without a corpus-sized re-join."""
    import pandas as pd

    spark = df.sparkSession
    carry_cols = (
        [c.strip().split()[0] for c in carry_schema.split(",")] if carry_schema else []
    )
    schema = f"query_id long, {id_col} long, distance double" + (
        f", {carry_schema}" if carry_schema else ""
    )
    q_rows = queries.select("query_id", "query_vector").collect()
    if not q_rows:
        return spark.createDataFrame([], schema)
    qids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    QM = np.stack([np.asarray(r["query_vector"], dtype=np.float64) for r in q_rows])
    bc = spark.sparkContext.broadcast((qids, QM))

    def part(batches):
        qids_, QM_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            D = np.zeros((len(ids), nq))
            for j in range(X.shape[1]):
                t = X[:, j][:, None] - QM_[:, j][None, :]
                D = D + t * t
            D = np.sqrt(D)
            D = np.floor(D * 1e6 + 0.5) / 1e6  # F.round HALF_UP on positives
            data = {
                "query_id": np.tile(qids_, len(ids)),
                id_col: np.repeat(ids, nq),
                "distance": D.ravel(),
            }
            for c in carry_cols:
                data[c] = np.repeat(pdf[c].to_numpy(), nq)
            yield pd.DataFrame(data)

    return df.select(id_col, vec_col, *carry_cols).mapInPandas(part, schema=schema)


def anchor_ivf_truth(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact (query_id, vec_id) L2 top-k over the embedding table — the
    ground truth :func:`anchor_ivf_curve` scores its recall against,
    exposed so callers can compute it ONCE per corpus (it is
    deterministic: 6-dp-rounded distances from :func:`_pair_scores` with
    id tie-breaks, the values the DuckDB oracle replays)."""
    wq = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    return (
        _pair_scores(embeddings, queries)
        .withColumn("rank", F.row_number().over(wq)).where(F.col("rank") <= k)
        .select("query_id", "vec_id")
    )


def anchor_ivf_curve(
    embeddings: DataFrame,
    queries: DataFrame,
    nlists: int = 8,
    anchor_stride: int = 37,
    k: int = 10,
    nprobes: list[int] | None = None,
    truth: DataFrame | None = None,
) -> DataFrame:
    """The D9 (nprobe → recall@k, rows-scanned) curve with every step
    SQL-expressible, so the driver's DuckDB oracle replays the measurement
    end-to-end (parity: ``get_parameter.py:188`` — the reference measures
    its curve against a live index; the exact-oracle harness needs the
    index construction itself to be deterministic arithmetic). The
    dominant Q·N scoring pass is the Arrow kernel :func:`_pair_scores`.

    ``truth`` optionally supplies the exact (query_id, vec_id) top-k
    ground truth (:func:`anchor_ivf_truth`) — it is deterministic per
    corpus, so callers cache it per sf the way the reference precomputes
    ground truth offline (compute_groundtruth); the O(N·Q) brute-force
    pass is the curve's dominant cost at scale and the INDEX measurement
    under test still runs in full. It MUST be built with the same ``k``
    as the curve (key your cache on k): a deeper truth inflates recall@k
    past its real value with no error.

    k-means centroids are float-iterative and engine-specific, so this
    curve swaps them for ANCHOR vectors chosen arithmetically (the first
    ``nlists`` embeddings with ``vec_id % anchor_stride == 0``) — the
    routing/probe/recall machinery is the same as ``recall_cost_curve``
    (assignment = nearest anchor, probe order = anchor rank per query,
    candidates exploded once over the nprobe ladder). Distances are rounded
    to 6dp before ranking with id tie-breaks, the repo-wide cross-engine
    determinism contract (SURVEY.md §4).

    Scale: anchors/probes are dim-sized broadcasts; the candidate explode
    is the one fact-table pass (Σ_nprobe candidates — exactly what per-knob
    re-runs would scan anyway, measured in ONE job)."""
    spark = embeddings.sparkSession
    nprobes = sorted(set(nprobes or range(1, nlists + 1)))

    w_anchor = Window.orderBy("vec_id")
    anchors = (
        embeddings.where(F.col("vec_id") % anchor_stride == 0)
        .orderBy("vec_id").limit(nlists)
        .select((F.row_number().over(w_anchor) - 1).alias("centroid_id"),
                F.col("embedding").alias("anchor"))
    )

    def ranked(df, id_col, vec_col, out):
        d = F.round(V.l2_distance(vec_col, "anchor"), 6)
        w = Window.partitionBy(id_col).orderBy(d.asc(), F.col("centroid_id").asc())
        return (
            df.crossJoin(F.broadcast(anchors))
            .select(id_col, "centroid_id", F.row_number().over(w).alias(out))
        )

    # eager checkpoint: assign feeds BOTH the candidate scan and the
    # per-list size aggregate below; a lazy cache races when one collect
    # schedules both branches concurrently and the N×nlists ranking
    # window would run twice
    assign = (
        ranked(embeddings.select("vec_id", "embedding"), "vec_id", "embedding", "rn")
        .where(F.col("rn") == 1).select("vec_id", "centroid_id")
    ).localCheckpoint()
    probes = (
        ranked(queries.select("query_id", "query_vector"), "query_id", "query_vector", "rn")
        .select("query_id", "centroid_id", (F.col("rn") - 1).alias("probe_rank"))
    )

    np_arr = F.array(*[F.lit(int(n)) for n in nprobes])
    # score each (query, vec) candidate ONCE, then PRE-CUT to the top-k
    # per (query, probed list) BEFORE fanning out over the nprobe ladder:
    # the top-k of a union of lists equals the top-k of the per-list
    # top-k's under the same (distance, id) comparator, so the emitted
    # curve is value-identical while the replicated relation shrinks from
    # ~Q·N·nlists/2 rows to Q·nlists·k — at sf1 this was the entry's
    # dominant persist+window (the distance pass itself is the inherent
    # Q·N measurement cost and still runs in full)
    # pair scores (query_id, vec_id, distance) from the shared scoring
    # pass; probe_rank attaches via the dim-sized assign/probes joins
    # (probes is keyed (query_id, centroid_id) — every query ranks every
    # list, so the join is exact, not an expansion)
    cand = (
        _pair_scores(embeddings, queries)
        .join(F.broadcast(assign), "vec_id")
        .join(F.broadcast(probes), ["query_id", "centroid_id"])
        .select("query_id", "vec_id", "probe_rank", "distance")
    )
    wl = Window.partitionBy("query_id", "probe_rank").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc()
    )
    percut = (
        cand.withColumn("_lr", F.row_number().over(wl))
        .where(F.col("_lr") <= k).drop("_lr")
    )
    scored = percut.withColumn(
        "nprobe", F.explode(F.filter(np_arr, lambda n: n > F.col("probe_rank")))
    ).select("nprobe", "query_id", "vec_id", "distance")

    n_queries = queries.count()
    n_corpus = embeddings.count()
    # scan counts from per-list sizes (dim-sized aggregate) — the exact
    # integer sum the exploded-candidate count used to produce; assign is
    # checkpointed above so the N·nlists ranking window runs once, not
    # once per consumer (candidates + sizes race a lazy cache)
    sizes = assign.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_blocks"))
    scanned = (
        probes.join(F.broadcast(sizes), "centroid_id")
        .withColumn(
            "nprobe", F.explode(F.filter(np_arr, lambda n: n > F.col("probe_rank")))
        )
        .groupBy("nprobe")
        .agg((F.sum("n_blocks") / n_queries).alias("avg_scanned"))
    )

    if truth is None:
        truth = anchor_ivf_truth(embeddings, queries, k)

    wp = Window.partitionBy("nprobe", "query_id").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    pred = scored.withColumn("rank", F.row_number().over(wp)).where(F.col("rank") <= k)
    hits = pred.join(F.broadcast(truth), ["query_id", "vec_id"]).groupBy("nprobe", "query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_truth = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    grid = literal_df(spark, [(int(n),) for n in nprobes], "nprobe int").crossJoin(
        F.broadcast(n_truth)  # ladder × per-query truth counts: both dim-sized, broadcast the bigger
    )
    recall = (
        grid.join(F.broadcast(hits), ["nprobe", "query_id"], "left")
        .select("nprobe", (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_truth")).alias("recall"))
        .groupBy("nprobe").agg(F.round(F.avg("recall"), 6).alias("recall_at_k"))
    )
    return (
        recall.join(F.broadcast(scanned), "nprobe")
        .select(
            "nprobe", "recall_at_k",
            F.round("avg_scanned", 2).alias("avg_scanned"),
            F.round(F.col("avg_scanned") / n_corpus, 6).alias("scan_frac"),
        )
        .orderBy("nprobe")
    )
