"""Parameter-tuning tests: one-pass recall/cost curve, piecewise model fit,
nprobe selection (reference get_parameter.py / analysis_hnsw_recall.py /
modelrecall_vs_realrecall.py parity)."""

import numpy as np
import pytest

from vectorsearch_rbac_spark.sources import load_table
from vectorsearch_rbac_spark.rbac import derive
from vectorsearch_rbac_spark.operators import ivf, knn, tuning


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    customer = load_table(spark, "customer", sf_dir)
    documents = load_table(spark, "documents", sf_dir)
    embeddings = load_table(spark, "embeddings", sf_dir)
    tabs = derive.derive_rbac(customer, documents, embeddings)
    tabs["queries"] = derive.derive_queries(embeddings, 50)
    for v in tabs.values():
        v.cache()
    return tabs


@pytest.fixture(scope="module")
def fitted(t):
    blocks = t["documentblocks"]
    nlists = 8
    C = ivf.kmeans_fit(blocks, nlists=nlists, max_iter=8)
    indexed = ivf.assign_centroids(blocks, C).cache()
    truth = knn.knn_topk_fast(blocks, t["queries"], k=10).cache()
    curve = tuning.recall_cost_curve(
        indexed, t["queries"], C, truth, k=10, nprobes=list(range(1, nlists + 1))
    ).collect()
    return {"blocks": blocks, "C": C, "indexed": indexed, "truth": truth,
            "queries": t["queries"], "curve": curve, "nlists": nlists}


def test_curve_shape_and_monotonicity(fitted):
    curve = fitted["curve"]
    assert [r["nprobe"] for r in curve] == list(range(1, fitted["nlists"] + 1))
    recalls = [r["recall_at_k"] for r in curve]
    scanned = [r["avg_scanned"] for r in curve]
    # probing more lists can only add candidates → recall and scan are
    # nondecreasing in nprobe
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:]))
    assert all(b > a for a, b in zip(scanned, scanned[1:]))
    assert all(0 <= r["scan_frac"] <= 1.0 + 1e-9 for r in curve)


def test_full_probe_is_exact(fitted):
    # nprobe == nlists scans every list → identical to brute force
    full = [r for r in fitted["curve"] if r["nprobe"] == fitted["nlists"]][0]
    assert full["recall_at_k"] == pytest.approx(1.0)
    n = fitted["blocks"].count()
    assert full["avg_scanned"] == pytest.approx(n, rel=1e-6)
    assert full["scan_frac"] == pytest.approx(1.0, abs=1e-4)


def test_curve_matches_per_nprobe_search(fitted):
    """The exploded one-pass curve must equal what a per-nprobe ivf_search
    re-run measures (the reference's loop-per-ef_search method)."""
    for nprobe in (2, fitted["nlists"] // 2):
        pred = ivf.ivf_search(fitted["indexed"], fitted["queries"], fitted["C"], k=10, nprobe=nprobe)
        r = float(
            knn.recall_at_k(pred, fitted["truth"]).agg({"recall": "avg"}).first()[0]
        )
        row = [c for c in fitted["curve"] if c["nprobe"] == nprobe][0]
        assert row["recall_at_k"] == pytest.approx(r, abs=1e-6)


def test_model_fit_and_choice(fitted):
    curve = fitted["curve"]
    model = tuning.fit_recall_model(
        [r["nprobe"] for r in curve], [r["recall_at_k"] for r in curve], topk=10
    )
    cost = tuning.fit_cost_model([r["nprobe"] for r in curve], [r["avg_scanned"] for r in curve])
    # model tracks the measured curve (modelrecall_vs_realrecall gate)
    val = tuning.validate_model(curve, model)
    assert val["mae"] < 0.12, val
    assert cost["a"] > 0  # more probes → more rows
    dec = tuning.choose_nprobe(model, cost, target_recall=0.8, nprobe_max=fitted["nlists"])
    assert 1 <= dec["nprobe"] <= fitted["nlists"]
    assert dec["predicted_recall"] >= 0.8 or dec["nprobe"] == fitted["nlists"]
    # the chosen knob must actually deliver ~the target on the measured curve
    measured = [r["recall_at_k"] for r in curve if r["nprobe"] == dec["nprobe"]][0]
    assert measured >= 0.8 - 0.15


def test_choose_nprobe_is_minimal():
    model = {"k": 0.4, "beta": 1.0, "sel": 2.0, "topk": 10}
    cost = {"a": 10.0, "b": 5.0}
    dec = tuning.choose_nprobe(model, cost, target_recall=0.9, nprobe_max=32)
    below = dec["nprobe"] - 1
    if below >= 1:
        assert float(tuning.predict_recall(below, model)) < 0.9
    # unreachable target falls back to max
    hard = tuning.choose_nprobe(model, cost, target_recall=1.1, nprobe_max=32)
    assert hard["nprobe"] == 32


def test_scan_cost_points_match_curve(fitted):
    """The dim-sized cost-only aggregate must equal the full curve's
    avg_scanned column exactly — same probe ranks, same ladder, no
    candidate explode."""
    pts = {
        r["nprobe"]: r["avg_scanned"]
        for r in tuning.scan_cost_points(
            fitted["indexed"], fitted["queries"], fitted["C"],
            nprobes=list(range(1, fitted["nlists"] + 1)),
        ).collect()
    }
    for r in fitted["curve"]:
        assert pts[r["nprobe"]] == pytest.approx(r["avg_scanned"], abs=0.01)


def test_logn_cost_fit(fitted):
    """D9 log-n QPS model (analysis_hnsw_qps_logn.py parity): (1) on
    synthetic data drawn from cost = a·knob + b·log(n) the exact
    least-squares fit recovers the coefficients; (2) on real scan points
    measured at three corpus sizes the fit is sane: cost rises with the
    knob (a > 0) and with corpus size (b_logn > 0), and its MAE is in
    the same band as the knob-only linear fit (neither form nests the
    other: logn trades the free intercept for n-dependence)."""
    import pyspark.sql.functions as F

    # (1) synthetic exact recovery
    knobs = [1, 2, 4, 8, 1, 2, 4, 8, 1, 2, 4, 8]
    ns = [1000] * 4 + [10000] * 4 + [100000] * 4
    ys = [3.5 * k + 7.0 * np.log(n) for k, n in zip(knobs, ns)]
    m = tuning.fit_cost_model_logn(knobs, ys, ns)
    assert m["a"] == pytest.approx(3.5, abs=1e-3)
    assert m["b_logn"] == pytest.approx(7.0, abs=1e-3)
    assert m["mae"] < 1e-6
    assert tuning.predict_cost_logn(3, 5000, m) == pytest.approx(
        3.5 * 3 + 7.0 * np.log(5000), rel=1e-3
    )

    # (2) real multi-n scan points: log-n MAE ≤ knob-only-linear MAE
    pts = []
    for mod in (1, 2, 4):
        sub = fitted["blocks"].where(F.col("block_id") % mod == 0)
        n_sub = sub.count()
        rows = tuning.scan_cost_points(
            ivf.assign_centroids(sub, fitted["C"]), fitted["queries"], fitted["C"]
        ).collect()
        pts += [(r["nprobe"], r["avg_scanned"], n_sub) for r in rows]
    logn = tuning.fit_cost_model_logn(
        [p[0] for p in pts], [p[1] for p in pts], [p[2] for p in pts]
    )
    lin = tuning.fit_cost_model([p[0] for p in pts], [p[1] for p in pts])
    assert logn["a"] > 0 and logn["b_logn"] > 0
    assert logn["mae"] <= 2.0 * lin["mae"] + 1e-9


def _ref_pair_scores(df, queries, id_col, vec_col, carry=()):
    """Test-only expression reference for ``tuning._pair_scores``: every
    (query, row) pair, ``F.round`` of the codegen'd L2 distance."""
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.functions import vector as V

    return df.crossJoin(queries.select("query_id", "query_vector")).select(
        "query_id", id_col,
        F.round(V.l2_distance(vec_col, "query_vector"), 6).alias("distance"), *carry,
    )


def _same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == b.count() > 0


def test_recall_cost_curve_numpy_matches_expr(fitted):
    """The pair-scoring kernel behind recall_cost_curve returns EXACTLY
    the expression reference's rows in its carry_schema form (centroid_id
    repeated per pair), so the k-means curve is the expression curve."""
    got = tuning._pair_scores(
        fitted["indexed"], fitted["queries"], id_col="block_id", vec_col="vector",
        carry_schema="centroid_id int",
    )
    want = _ref_pair_scores(
        fitted["indexed"], fitted["queries"], "block_id", "vector", carry=("centroid_id",)
    )
    assert got.columns == want.columns
    _same_rows(got, want)


def test_anchor_curve_numpy_kernel_matches_expr(t, spark, sf_dir):
    """The Arrow pair-scoring kernel (per-dim j-order accumulation,
    half-up 6-dp round) returns EXACTLY the expression reference's rows
    in its plain form, so anchor_ivf_truth is the expression truth."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 100)
    want = _ref_pair_scores(emb, qs, "vec_id", "embedding")
    _same_rows(tuning._pair_scores(emb, qs), want)
    wq = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    _same_rows(
        tuning.anchor_ivf_truth(emb, qs, k=10),
        want.withColumn("rank", F.row_number().over(wq)).where(F.col("rank") <= 10)
        .select("query_id", "vec_id"),
    )


def _python_rdd_scans(df):
    """Scans in the executed plan whose RDD is a Python-RDD literal (the
    classic ``createDataFrame(list)`` form, re-pickled on every job); a
    localCheckpoint scan is an RDD scan too, but not a Python one."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    leaves = plan.collectLeaves()
    return [
        leaves.apply(i).toString()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "RDDScanExec"
        and "applySchemaToPythonRDD" in leaves.apply(i).rdd().toDebugString()
    ]


def test_tuning_literals_are_not_python_rdd_scans(fitted, spark, sf_dir):
    """The probe tables and nprobe grids are Arrow-built literal relations:
    the curve tune_ivf measures has no ExistingRDD scan at all, and the
    anchor curve (tuning_curve) has none over a Python RDD — its only RDD
    scan is the localCheckpoint of the anchor assignment."""
    curve = tuning.recall_cost_curve(
        fitted["indexed"], fitted["queries"], fitted["C"], fitted["truth"],
        k=10, nprobes=list(range(1, fitted["nlists"] + 1)),
    )
    assert "ExistingRDD" not in curve._jdf.queryExecution().executedPlan().toString()
    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 100)
    anchor = tuning.anchor_ivf_curve(emb, qs, nlists=8, anchor_stride=37, k=10)
    assert _python_rdd_scans(anchor) == []
    assert len(anchor.collect()) == 8


def test_tune_ivf_end_to_end(fitted):
    out = tuning.tune_ivf(
        fitted["indexed"], fitted["queries"], fitted["C"], fitted["truth"],
        k=10, target_recall=0.85, nprobes=list(range(1, fitted["nlists"] + 1)),
    )
    assert set(out["parameters"]) == {"k", "beta", "a", "b"}  # get_parameter.py:226 shape
    assert len(out["curve"]) == fitted["nlists"]
    assert out["validation"]["mae"] < 0.15
