"""Strategy-equivalence and recall tests, modeled on the reference's
basic_benchmark/test_*.py suite (SURVEY.md §6): every exact strategy must
agree with ground truth (recall 1.0); approximate paths must clear a
recall floor."""

import pytest
from pyspark.sql import functions as F

from vectorsearch_rbac_spark.functions import vector as V
from vectorsearch_rbac_spark.sources import load_table
from vectorsearch_rbac_spark.rbac import derive
from vectorsearch_rbac_spark.operators import knn, ivf, ann, dynamic, partitioning


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    customer = load_table(spark, "customer", sf_dir)
    documents = load_table(spark, "documents", sf_dir)
    embeddings = load_table(spark, "embeddings", sf_dir)
    tabs = derive.derive_rbac(customer, documents, embeddings)
    tabs["queries"] = derive.derive_queries(embeddings, 100)
    tabs["query_roles"] = derive.query_roles(tabs["queries"])
    tabs["embeddings"] = embeddings
    for v in tabs.values():
        v.cache()
    return tabs


def _ids(df):
    return {(r["query_id"], r["block_id"]) for r in df.select("query_id", "block_id").collect()}


def test_exact_strategies_agree(t):
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    truth = _ids(knn.knn_prefilter(*args, k=10))
    assert truth
    assert _ids(knn.knn_role_partition(*args, k=10)) == truth
    assert _ids(knn.knn_comb_role_partition(*args, k=10)) == truth
    assert _ids(knn.knn_rls(*args, k=10)) == truth


def test_postfilter_is_subset_of_global(t):
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    post = knn.knn_postfilter(*args, k=10, expansion=4)
    truth = knn.ground_truth(*args, k=10)
    rec = knn.recall_at_k(post, truth).agg(F.avg("recall")).first()[0]
    assert 0.2 <= rec <= 1.0  # postfilter trades recall for scan locality


def test_fast_topk_matches_window_topk(t):
    fast = _ids(knn.knn_topk_fast(t["documentblocks"], t["queries"], k=10))
    w = knn.topk_per_query(
        t["documentblocks"]
        .join(F.broadcast(t["queries"].select("query_id", "query_vector")), how="cross")
        .withColumn("distance", F.round(__import__("vectorsearch_rbac_spark.functions.vector", fromlist=["l2_distance"]).l2_distance("vector", "query_vector"), 6)),
        10,
    )
    assert _ids(w) == fast


def test_ivf_recall_floor(t):
    blocks = t["documentblocks"]
    C = ivf.kmeans_fit(blocks, nlists=8, max_iter=8)
    indexed = ivf.assign_centroids(blocks, C)
    pred = ivf.ivf_search(indexed, t["queries"], C, k=10, nprobe=4)
    truth = knn.knn_topk_fast(blocks, t["queries"], k=10)
    rec = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert rec >= 0.5  # nprobe=4/8 on random vectors

    # full probe = exact
    pred_all = ivf.ivf_search(indexed, t["queries"], C, k=10, nprobe=8)
    rec_all = knn.recall_at_k(pred_all, truth).agg(F.avg("recall")).first()[0]
    assert rec_all == 1.0


def test_lsh_recall_floor(t):
    pred = ann.cosine_topk_lsh(t["embeddings"], t["queries"], k=10, n_planes=8, n_tables=3).withColumnRenamed("vec_id", "block_id")
    truth = ann.cosine_topk_bruteforce(t["embeddings"], t["queries"], k=10).withColumnRenamed("vec_id", "block_id")
    rec = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    # random (structureless) vectors are LSH's worst case; 3 tables × 8
    # planes with 1-bit multiprobe should still clear this floor
    assert rec >= 0.45


def _nan_rows(df):
    """Sorted result rows with NaN distances made comparable (NaN != NaN)."""
    return sorted(
        tuple("nan" if isinstance(x, float) and x != x else x for x in r)
        for r in df.collect()
    )


def _ref_vec_topk(left, right, dist, k):
    """Test-only expression reference for the single-id vector searches:
    crossJoin, ``F.round`` of the codegen'd distance (+ 0.0 folds −0.0),
    then the exact window top-k with id tie-breaks."""
    scored = left.crossJoin(right).select(
        "query_id", F.col("vec_id").alias("block_id"),
        (F.round(dist, 6) + F.lit(0.0)).alias("distance"),
    )
    return knn.topk_per_query(scored, k).select(
        "query_id", F.col("block_id").alias("vec_id"), "distance", "rank"
    )


def _ref_lsh(emb, queries, k, n_planes, n_tables, seed=42):
    """Test-only LSH reference with hamming-1 multiprobe: bucket both
    sides with ``ann.lsh_bucket`` per table, keep the (query, vector)
    pairs whose buckets differ by at most one bit in some table, score
    them with ``V.cosine_distance`` and take the window top-k."""
    dim = len(emb.first()["embedding"])
    probe = [0] + [1 << i for i in range(n_planes)]
    pairs = None
    for t in range(n_tables):
        planes = ann.hyperplanes(dim, n_planes, seed + 1000 * t)
        eb = ann.lsh_bucket(emb.select("vec_id", "embedding"), planes)
        qb = ann.lsh_bucket(
            queries.select("query_id", "query_vector"), planes, vec_col="query_vector",
            out_col="qbucket",
        )
        p = eb.crossJoin(qb).where(
            F.col("bucket").bitwiseXOR(F.col("qbucket")).isin(probe)
        ).select("query_id", "vec_id")
        pairs = p if pairs is None else pairs.union(p)
    scored = (
        pairs.distinct()
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(queries.select("query_id", "query_vector"), "query_id")
        .select(
            "query_id", F.col("vec_id").alias("block_id"),
            (F.round(V.cosine_distance("embedding", "query_vector"), 6) + F.lit(0.0)).alias("distance"),
        )
    )
    return knn.topk_per_query(scored, k).select(
        "query_id", F.col("block_id").alias("vec_id"), "distance", "rank"
    )


def test_lsh_numpy_kernel_matches_expr(t):
    """The LSH kernel returns EXACTLY the expression reference's rows:
    its sign bits fold x·h in ``V.inner_product``'s order, so bucketing
    agrees bit for bit, and candidates score with the cosine fold."""
    kw = dict(k=10, n_planes=5, n_tables=4)
    got = _nan_rows(ann.cosine_topk_lsh(t["embeddings"], t["queries"], multiprobe_hamming=1, **kw))
    want = _nan_rows(_ref_lsh(t["embeddings"], t["queries"], **kw))
    assert got == want and len(want) > 0


def test_cosine_bruteforce_numpy_matches_expr(t):
    """The brute-force cosine kernel returns EXACTLY the expression
    reference's rows (j-order dot/norm folds, NaN zero-norm parity,
    half-up round, −0.0 fold)."""
    emb, qs = t["embeddings"], t["queries"].select("query_id", "query_vector")
    got = _nan_rows(ann.cosine_topk_bruteforce(emb, qs, k=10))
    want = _nan_rows(_ref_vec_topk(emb, qs, V.cosine_distance("embedding", "query_vector"), 10))
    assert got == want and len(want) > 0


def _ref_pq_search(codes, queries, B, k):
    """Test-only ADC reference: ``pq._subspace_luts`` tables per query,
    then the j-order gather-sum from 0.0 as a codegen'd
    aggregate(zip_with), ``F.round`` to 6 dp and the window top-k."""
    from pyspark.sql import Window
    from vectorsearch_rbac_spark.operators import pq
    import numpy as np

    rows = queries.select("query_id", "query_vector").collect()
    L = pq._subspace_luts(np.array([r["query_vector"] for r in rows], dtype=np.float64), B)
    luts = codes.sparkSession.createDataFrame(
        [(r["query_id"], L[i].tolist()) for i, r in enumerate(rows)],
        "query_id long, _luts array<array<double>>",
    )
    scored = codes.crossJoin(luts).select(
        "query_id", "vec_id",
        F.round(
            F.aggregate(
                F.zip_with("codes", "_luts", lambda c, l: F.element_at(l, c + 1)),
                F.lit(0.0), lambda acc, x: acc + x,
            ),
            6,
        ).alias("distance"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).where(F.col("rank") <= k)


def test_pq_numpy_kernel_matches_expr(t):
    """The Arrow ADC kernel (pq_search) returns exactly the expression
    reference's rows: the gather-sum adds run in the same j-order as the
    codegen fold (bit-identical float64 sums) and the cut uses the same
    rounded (distance, id) order — strict row equality, shortlist AND
    refined output."""
    from pyspark.sql import Window
    from vectorsearch_rbac_spark.operators import pq

    emb, qs = t["embeddings"], t["queries"]
    B = pq.pq_train(emb, m=8, ksub=8)
    codes = pq.pq_encode(emb, B).cache()
    got = _nan_rows(pq.pq_search(codes, qs, B, k=12))
    want = _nan_rows(_ref_pq_search(codes, qs, B, 12))
    assert got == want and len(want) > 0

    short = _ref_pq_search(codes, qs, B, 5 * 4).select("query_id", "vec_id")
    rescored = (
        short.join(emb, "vec_id").join(qs.select("query_id", "query_vector"), "query_id")
        .select("query_id", "vec_id",
                F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    want_r = _nan_rows(
        rescored.withColumn("rank", F.row_number().over(w).cast("long")).where(F.col("rank") <= 5)
    )
    got_r = _nan_rows(pq.pq_search_refined(codes, emb, qs, B, k=5, expansion=4))
    assert got_r == want_r and len(want_r) > 0

    # degenerate parity: empty query side must yield empty, not raise
    assert pq.pq_search(codes, qs.limit(0), B, k=5).count() == 0
    from vectorsearch_rbac_spark.operators import ivf

    C = ivf.kmeans_fit(emb, nlists=4, vec_col="embedding", max_iter=4)
    RB = pq.ivfpq_train(emb, C, m=8, ksub=8)
    rcodes = pq.ivfpq_encode(emb, C, RB)
    assert pq.ivfpq_search(rcodes, qs.limit(0), C, RB, k=5, nprobe=2).count() == 0


def test_ivfpq_lut_fallback_matches_kernel(t, monkeypatch):
    """Above ``_IVFPQ_LUT_BROADCAST_MAX`` the residual LUT is not
    broadcast as one tensor; ivfpq_search scores in the plan instead.
    Forcing that path (constant set to 0) must return the kernel's rows,
    for the raw ADC search and the refined search."""
    from vectorsearch_rbac_spark.operators import ivf, pq

    emb, qs = t["embeddings"], t["queries"]
    C = ivf.kmeans_fit(emb, nlists=4, vec_col="embedding", max_iter=4)
    RB = pq.ivfpq_train(emb, C, m=8, ksub=8)
    rcodes = pq.ivfpq_encode(emb, C, RB).cache()
    kw = dict(k=5, nprobe=2)

    def run():
        raw = pq.ivfpq_search(rcodes, qs, C, RB, **kw)
        refined = pq.ivfpq_search_refined(rcodes, emb, qs, C, RB, expansion=4, **kw)
        return raw, _nan_rows(raw), _nan_rows(refined)

    kernel_df, kernel_raw, kernel_ref = run()
    assert "MapInPandas" in kernel_df._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(pq, "_IVFPQ_LUT_BROADCAST_MAX", 0)
    fb_df, fb_raw, fb_ref = run()
    fb_plan = fb_df._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(zip_with" in fb_plan, "the fallback must score in the plan"
    assert fb_raw == kernel_raw and len(kernel_raw) > 0
    assert fb_ref == kernel_ref and len(kernel_ref) > 0


def test_qdtree_search_exact(t):
    """Qd-tree leaf routing must not lose any permitted block (recall 1.0)."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    truth = _ids(knn.knn_prefilter(*args, k=10))
    assigned = partitioning.qdtree_assignment(
        t["documentblocks"], t["permission_assignment"], max_leaf_size=32, max_depth=4
    )
    got = _ids(knn.knn_qdtree(assigned, t["queries"], t["query_roles"], t["permission_assignment"], k=10))
    assert got == truth


def test_logical_role_partition_matches_physical(t):
    """C3-logical (r6): pointer lists over a shared vector table must
    return exactly what physical per-role replication returns — the
    layouts differ only in storage, never in results."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    phys = _ids(knn.knn_role_partition(*args, k=10))
    logi = _ids(knn.knn_role_partition_logical(*args, k=10))
    assert logi == phys


def test_dynamic_store_lifecycle(t):
    """build → insert → search equals prefilter; delete removes exactly the
    deleted blocks from results."""
    blocks = t["documentblocks"]
    args = (blocks, t["queries"], t["query_roles"], t["permission_assignment"])
    truth = _ids(knn.knn_prefilter(*args, k=10))

    initial = blocks.where(F.col("block_id") % 3 != 0)
    arriving = blocks.where(F.col("block_id") % 3 == 0)
    store = dynamic.build_store(initial, t["permission_assignment"])
    store = dynamic.insert_blocks(store, arriving, t["permission_assignment"])
    assert store.count() == blocks.count()
    got = _ids(dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10))
    assert got == truth

    # delete every block that appeared in the results: they must all vanish
    hit_ids = {b for _, b in truth}
    deleted = blocks.where(F.col("block_id").isin(*hit_ids)).select("block_id")
    store2 = dynamic.delete_blocks(store, deleted)
    got2 = _ids(dynamic.knn_dynamic(store2, t["queries"], t["query_roles"], k=10))
    assert not (got2 & truth)


def test_rebalance_heavy_partitions(t):
    """A planted hot access set is split into ⌈n/max⌉ centroid buckets;
    light partitions keep their comb_role key; search results are identical
    to the unbalanced store (routing is by comb_role, not part_key)."""
    blocks = t["documentblocks"]
    # plant: every doc collapses to access set {1,4} when doc_id % 2 == 0
    d = F.col("document_id")
    docs = blocks.select("document_id").distinct()
    pa = (
        docs.where(d % 2 == 0).select("document_id", F.lit(1).cast("int").alias("role_id"))
        .unionAll(docs.where(d % 2 == 0).select("document_id", F.lit(4).cast("int").alias("role_id")))
        .unionAll(docs.where(d % 2 != 0).select("document_id", (d % 10).cast("int").alias("role_id")))
        .unionAll(docs.where(d % 2 != 0).select("document_id", ((d + 3) % 10).cast("int").alias("role_id")))
        .distinct()
    )
    store = dynamic.build_store(blocks, pa)
    sizes = {r["comb_role"]: r["n_blocks"] for r in dynamic.partition_sizes(store).collect()}
    hot = max(sizes, key=sizes.get)
    assert hot == "1,4" and sizes[hot] > store.count() * 0.4

    max_size = max(store.count() // 8, 20)
    bal = dynamic.rebalance_heavy_partitions(store, max_partition_size=max_size)
    keys = [r["part_key"] for r in bal.select("part_key").distinct().collect()]
    sub = [k for k in keys if k.startswith("1,4#")]
    import math

    assert len(sub) == min(math.ceil(sizes[hot] / max_size), max(sizes[hot] // 2, 1))
    assert "1,4" not in keys  # the hot comb only exists as sub-buckets
    # light partitions unsplit
    assert all("#" not in k for k in keys if not k.startswith("1,4#"))
    # physical split never changes results
    before = _ids(dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10))
    after = _ids(dynamic.knn_dynamic(bal, t["queries"], t["query_roles"], k=10))
    assert before == after


def test_versioned_store_rollback(t, tmp_path):
    """Insert/delete rollback parity: a delete is undone by restoring the
    pre-delete version, bit-exactly, and history is preserved."""
    blocks = t["documentblocks"]
    vs = dynamic.VersionedStore(str(tmp_path / "store"))
    store = dynamic.build_store(blocks, t["permission_assignment"])
    v0 = vs.commit(store)
    deleted = blocks.where(F.col("block_id") % 7 == 0).select("block_id")
    v1 = vs.commit(dynamic.delete_blocks(vs.read(v0), deleted))
    assert vs.read(v1).count() < vs.read(v0).count()

    v2 = vs.restore(v0)  # rollback the delete
    assert v2 == 2 and vs.latest_version == 2
    restored = vs.read()
    assert restored.count() == store.count()
    # exact state: same block ids per comb_role as the original
    orig = {(r["comb_role"], r["block_id"]) for r in store.select("comb_role", "block_id").collect()}
    back = {(r["comb_role"], r["block_id"]) for r in restored.select("comb_role", "block_id").collect()}
    assert orig == back
    # pre-restore history still readable (restore is undoable)
    assert vs.read(v1).count() < vs.read(v2).count()


def test_adaptive_strategy_routes(t, spark):
    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    out = adaptive_knn(
        t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"],
        t["user_roles"], k=10,
    )
    rows = out.select("query_id", "strategy").distinct().collect()
    assert len({r["query_id"] for r in rows}) == t["queries"].count()


def test_adaptive_knn_production_acorn_arm(t, spark):
    """r9: the cost3 router's production seams — ``n_corpus`` pins the
    cost model's corpus size (no blocks.count() scan per routing call)
    and ``acorn_impl`` routes the ACORN arm to acorn_search_indexed over
    a PREBUILT index (the bounded beam the cost model prices), instead
    of the exhaustive exact-certified default. The routed union must
    still cover every query, actually route some queries through the
    indexed arm, and clear recall ≥ 0.9 against the exact permitted
    answer."""
    from vectorsearch_rbac_spark.operators import graph_ann
    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    blocks = t["documentblocks"]
    n = blocks.count()
    g = graph_ann.build_acorn_graph(blocks, m=8, gamma=1).localCheckpoint()

    def beam_arm(b, qs, qr, pa, k=10):
        return graph_ann.acorn_search_indexed(
            b, g, qs, qr, k=k, m=8, ef=48, permissions=pa
        )

    # price the ACORN arm at ef·m = 44: postfilter wins only above
    # sel = k·e/44 ≈ 0.909, so the workload's dominant mid-selectivity
    # band (sel ∈ [0.75, 0.909)) routes through the indexed arm
    out = adaptive_knn(
        blocks, t["queries"], t["query_roles"], t["permission_assignment"],
        t["user_roles"], k=10, routing_mode="cost3", n_corpus=n,
        acorn_ef=11, acorn_m=4, acorn_impl=beam_arm,
    ).localCheckpoint()
    assert out.select("query_id").distinct().count() == t["queries"].count()
    strategies = {r["strategy"] for r in out.select("strategy").distinct().collect()}
    assert "acorn" in strategies, f"no query routed to the indexed arm: {strategies}"
    truth = knn.knn_prefilter(
        blocks, t["queries"], t["query_roles"], t["permission_assignment"], k=10
    )
    rec = knn.recall_at_k(out, truth).agg(F.avg("recall")).first()[0]
    assert rec >= 0.9, f"routed-union recall too low: {rec}"

    # the hook only exists on the cost3 arm — passing it with 2-way
    # routing must refuse, not silently never run it
    with pytest.raises(ValueError, match="acorn_impl requires"):
        adaptive_knn(
            blocks, t["queries"], t["query_roles"], t["permission_assignment"],
            t["user_roles"], k=10, routing_mode="cost", acorn_impl=beam_arm,
        )


def test_pq_refined_recall(spark, sf_dir):
    """PQ codes: valid range/shape; PQ+refine recall beats the bar the
    reference's recall harness would apply (compute_recall ≥ threshold)."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import pq, knn
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 25)
    B = pq.pq_train(emb, m=8, ksub=8)
    codes = pq.pq_encode(emb, B)
    row = codes.select(
        F.size("codes").alias("m"), F.array_max("codes").alias("mx"), F.array_min("codes").alias("mn")
    ).agg(F.max("m"), F.min("m"), F.max("mx"), F.min("mn")).first()
    assert row[0] == row[1] == 8 and row[2] <= 7 and row[3] >= 0

    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 5).select("query_id", "block_id", "distance", "rank")
    pred = pq.pq_search_refined(codes, emb, qs, B, k=5, expansion=8).withColumnRenamed(
        "vec_id", "block_id")
    r = knn.recall_at_k(truth, pred).agg(F.avg("recall")).first()[0]
    # sf0.001 is the hard regime for PQ (50-vector codebook sample); the
    # sf0.01 entry (m=16, expansion=4) sits at ~0.86
    assert r >= 0.6, f"PQ+refine recall too low: {r}"


def test_ivf_list_stats_balance(t):
    """list_stats must account for every block exactly once and report the
    max/mean imbalance ratio consistently on every row."""
    from vectorsearch_rbac_spark.operators import ivf

    blocks = t["documentblocks"]
    C = ivf.kmeans_fit(blocks, nlists=8, max_iter=8)
    stats = ivf.list_stats(ivf.assign_centroids(blocks, C)).collect()
    assert sum(r["n_blocks"] for r in stats) == blocks.count()
    assert abs(sum(r["frac"] for r in stats) - 1.0) < 1e-4
    imb = {r["imbalance"] for r in stats}
    assert len(imb) == 1 and min(imb) >= 1.0


def test_ivfpq_residual_recall(spark, sf_dir):
    """D11 IVFADC: codes valid; probing ALL lists with a full-corpus
    shortlist makes the refined search EXACT (recall 1.0) — the residual
    encode/route/ADC/refine pipeline loses nothing when the knobs are
    maxed; a restricted-probe run still clears a floor."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import ivf, pq, knn
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 25)
    n = emb.count()
    C = ivf.kmeans_fit(emb, nlists=4, vec_col="embedding", max_iter=6)
    B = pq.ivfpq_train(emb, C, m=8, ksub=8)
    codes = pq.ivfpq_encode(emb, C, B)

    row = codes.select(
        F.size("codes").alias("m"), F.array_max("codes").alias("mx"),
        F.array_min("codes").alias("mn"), F.col("centroid_id").alias("c"),
    ).agg(F.max("m"), F.min("m"), F.max("mx"), F.min("mn"), F.max("c")).first()
    assert row[0] == row[1] == 8 and row[2] <= 7 and row[3] >= 0 and row[4] <= 3

    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 5).select("query_id", "block_id", "distance", "rank")

    exact = pq.ivfpq_search_refined(
        codes, emb, qs, C, B, k=5, nprobe=4, expansion=(n // 5) + 1
    ).withColumnRenamed("vec_id", "block_id")
    r = knn.recall_at_k(exact, truth).agg(F.avg("recall")).first()[0]
    assert r == 1.0

    pred = pq.ivfpq_search_refined(
        codes, emb, qs, C, B, k=5, nprobe=2, expansion=8
    ).withColumnRenamed("vec_id", "block_id")
    r2 = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r2 >= 0.4  # half the lists probed on a near-isotropic corpus


def test_ivfpq_anchor_exactness(spark, sf_dir):
    """D11 certification invariant behind the quantized_topk ivfpq_exact
    tag: at max knobs (nprobe = nlist, full-corpus shortlist) the anchor
    IVFADC pipeline must EQUAL brute-force L2 top-k exactly — nothing in
    route/residual-encode/ADC/refine loses a candidate; and the default-
    knob run (nprobe=4/8 lists) still clears a recall floor."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import knn, pq
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 50)
    n = emb.count()
    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 10).select("query_id", "block_id", "rank")

    exact = pq.ivfpq_anchor_topk(
        emb, qs, nlist=8, nprobe=8, k=10, expansion=(n // 10) + 1
    )
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect()}
    want = {(r["query_id"], r["block_id"], r["rank"]) for r in truth.collect()}
    assert got == want

    pred = pq.ivfpq_anchor_topk(emb, qs, k=10).withColumnRenamed("vec_id", "block_id")
    truth_d = knn.topk_per_query(scored, 10).select("query_id", "block_id", "distance", "rank")
    r = knn.recall_at_k(pred, truth_d).agg(F.avg("recall")).first()[0]
    # anchor coarse lists + anchor codebooks are the CERTIFICATION
    # vehicle, not the recall vehicle (k-means is) — the floor only
    # guards against a broken join/shortlist, not quantization quality
    assert r >= 0.25


def test_bit_rerank_recall(spark, sf_dir):
    """A9 binary-quantize + rerank: with a full-corpus shortlist the refine
    IS the exact L2 search (recall 1.0); a 4× shortlist still clears the
    floor the 1-bit scan is expected to give on near-isotropic data."""
    import pyspark.sql.functions as F
    from vectorsearch_rbac_spark.sources import load_table
    from vectorsearch_rbac_spark.rbac import derive
    from vectorsearch_rbac_spark.operators import ann, knn
    from vectorsearch_rbac_spark.functions import vector as V

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 25)
    n = emb.count()
    scored = emb.join(F.broadcast(qs), how="cross").select(
        "query_id", F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"))
    truth = knn.topk_per_query(scored, 5).select("query_id", "block_id", "distance", "rank")

    exact = ann.hamming_rerank_topk(emb, qs, k=5, expansion=(n // 5) + 1).withColumnRenamed(
        "vec_id", "block_id")
    assert knn.recall_at_k(exact, truth).agg(F.avg("recall")).first()[0] == 1.0

    pred = ann.hamming_rerank_topk(emb, qs, k=5, expansion=4).withColumnRenamed(
        "vec_id", "block_id")
    assert knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0] >= 0.3


def test_graph_nsw_recall_floor(spark, sf_dir):
    """D2 graph ANN: single-partition NSW beam search must reach ≥0.9
    recall@10 at ef=48, and the partitioned variant (graphs per id-range)
    must hold the floor too — candidates merge through the global rank."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    blocks, qs = t["documentblocks"], t["queries"]
    truth = knn.knn_topk_fast(blocks, qs, k=10)

    pred = graph_ann.nsw_search_indexed(blocks, None, qs, k=10, m=8, ef=48)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9

    parts = blocks.withColumn("part", F.pmod(F.col("block_id"), F.lit(4)))
    pred_p = graph_ann.nsw_search_indexed(parts, None, qs, k=10, m=8, ef=48, part_col="part")
    rp = knn.recall_at_k(pred_p, truth).agg(F.avg("recall")).first()[0]
    assert rp >= 0.9
    # per-query rows are exactly k with contiguous ranks
    counts = pred.groupBy("query_id").count().select("count").distinct().collect()
    assert [c["count"] for c in counts] == [10]


def test_acorn_filtered_traversal_recall_and_purity(spark, sf_dir):
    """D5 ACORN-1: predicate-aware beam search must (a) return ONLY
    permitted blocks — the predicate is enforced in the traversal, not
    post-hoc — and (b) hold a ≥0.9 recall floor vs the exact permitted
    answer; 2-hop expansion keeps the filtered subgraph navigable."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    pred = graph_ann.acorn_search_indexed(
        t["documentblocks"], None, t["queries"], t["query_roles"], k=10, m=8, ef=48
    )
    truth = entry.q_rbac_prefilter_topk(spark, sf_dir)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9
    # purity: every returned block's document is permitted for the query
    permitted = (
        t["query_roles"]
        .join(t["permission_assignment"], "role_id")
        .select("query_id", "document_id")
        .distinct()
    )
    blocks_docs = t["documentblocks"].select("block_id", "document_id")
    leaked = (
        pred.join(blocks_docs, "block_id")
        .join(permitted, ["query_id", "document_id"], "left_anti")
        .count()
    )
    assert leaked == 0


def test_acorn_gamma_and_exact(spark, sf_dir):
    """D5 ACORN-γ (r6): the dense-graph neighbor-truncation variant must
    hold a ≥0.8 recall floor vs the exact permitted answer AND stay pure
    (predicate enforced in-traversal). acorn_exact_topk (max_hops ≥ n,
    ef ≥ n) must EQUAL the exact prefilter answer row-for-row — the
    exhaustiveness proof the oracle certification rests on."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    pred = graph_ann.acorn_search_indexed(
        t["documentblocks"], None, t["queries"], t["query_roles"], k=10, m=8,
        ef=96, gamma=4,
    )
    truth = entry.q_rbac_prefilter_topk(spark, sf_dir)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.8
    permitted = (
        t["query_roles"]
        .join(t["permission_assignment"], "role_id")
        .select("query_id", "document_id")
        .distinct()
    )
    blocks_docs = t["documentblocks"].select("block_id", "document_id")
    leaked = (
        pred.join(blocks_docs, "block_id")
        .join(permitted, ["query_id", "document_id"], "left_anti")
        .count()
    )
    assert leaked == 0

    exact = graph_ann.acorn_exact_topk(
        t["documentblocks"], t["queries"], t["query_roles"], k=10
    )
    diff = (
        exact.select("query_id", "block_id", "rank")
        .exceptAll(truth.select("query_id", "block_id", "rank"))
        .count()
    )
    assert diff == 0 and exact.count() == truth.count()


def test_acorn_indexed_equals_fused(spark, sf_dir):
    """D5 persisted-index path (r8): acorn_search_indexed over a
    build_acorn_graph adjacency must return EXACTLY the rows the
    in-cogroup build (``adjacency=None``) computes with the same knobs —
    same deterministic build, same traversal, with the build amortized
    build-once/search-many. Both ACORN-1 (2-hop) and ACORN-γ (stored
    diverse-first lists replace the per-search ordering) are pinned, with
    the predicate supplied as data."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import graph_ann

    t = entry._rbac(spark, sf_dir)
    blocks, qs, qr = t["documentblocks"], t["queries"], t["query_roles"]
    perms = t["permission_assignment"]
    for gamma, ef in ((1, 48), (4, 96)):
        g = graph_ann.build_acorn_graph(blocks, m=8, gamma=gamma).localCheckpoint()
        fused = graph_ann.acorn_search_indexed(
            blocks, None, qs, qr, k=10, m=8, ef=ef, gamma=gamma, permissions=perms
        ).select("query_id", "block_id", "rank")
        indexed = graph_ann.acorn_search_indexed(
            blocks, g, qs, qr, k=10, m=8, ef=ef, gamma=gamma, permissions=perms
        ).select("query_id", "block_id", "rank")
        assert indexed.exceptAll(fused).count() == 0
        assert fused.exceptAll(indexed).count() == 0
        assert indexed.count() == fused.count() > 0


def test_acorn_indexed_string_part_and_stale_fallback(spark, sf_dir):
    """D4×D5 composition (r9): build_acorn_graph over the dynamic
    comb-role store with a STRING part key persists (the adjacency
    schema mirrors the part column's own type), and acorn_search_indexed
    over it returns exactly the in-cogroup build's (``adjacency=None``)
    rows with the same knobs. A STALE adjacency (blocks
    added to the store after the build) must flip its partition to the
    in-cogroup rebuild through the LEFT join — never a silent drop."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"])
    qs, qr, perms = t["queries"], t["query_roles"], t["permission_assignment"]
    g = graph_ann.build_acorn_graph(
        store, m=8, gamma=1, part_col="comb_role"
    ).localCheckpoint()
    assert dict(g.dtypes)["part"] == "string"
    fused = graph_ann.acorn_search_indexed(
        store, None, qs, qr, k=10, m=8, ef=48, part_col="comb_role", permissions=perms
    ).select("query_id", "block_id", "rank")
    indexed = graph_ann.acorn_search_indexed(
        store, g, qs, qr, k=10, m=8, ef=48, part_col="comb_role",
        permissions=perms,
    ).select("query_id", "block_id", "rank")
    assert indexed.exceptAll(fused).count() == 0
    assert fused.exceptAll(indexed).count() == 0
    assert indexed.count() == fused.count() > 0

    # stale index: built on a subset, searched over the full store — the
    # missing blocks' null neighbor lists trigger the partition rebuild,
    # so the result equals the deterministic in-cogroup build
    part_store = store.where(F.col("block_id") % 5 != 0)
    g_stale = graph_ann.build_acorn_graph(
        part_store, m=8, gamma=1, part_col="comb_role"
    ).localCheckpoint()
    stale = graph_ann.acorn_search_indexed(
        store, g_stale, qs, qr, k=10, m=8, ef=48, part_col="comb_role",
        permissions=perms,
    ).select("query_id", "block_id", "rank")
    assert stale.exceptAll(fused).count() == 0
    assert fused.exceptAll(stale).count() == 0


def test_nsw_indexed_stale_fallback(spark, sf_dir):
    """r9: nsw_search_indexed mirrors the stale-index safety of its
    siblings — blocks absent from the adjacency flip their partition to
    the in-cogroup rebuild, so a stale index equals the search with no
    index (``adjacency=None``)."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import graph_ann

    t = entry._rbac(spark, sf_dir)
    blocks, qs = t["documentblocks"], t["queries"]
    g_stale = graph_ann.build_acorn_graph(
        blocks.where(F.col("block_id") % 5 != 0), m=8
    ).localCheckpoint()
    fused = graph_ann.nsw_search_indexed(blocks, None, qs, k=10, m=8, ef=48).select(
        "query_id", "block_id", "rank"
    )
    stale = graph_ann.nsw_search_indexed(
        blocks, g_stale, qs, k=10, ef=48, m=8
    ).select("query_id", "block_id", "rank")
    assert stale.exceptAll(fused).count() == 0
    assert fused.exceptAll(stale).count() == 0
    assert stale.count() == fused.count() > 0

    # stale='error': certification paths must fail LOUDLY on the same
    # stale index instead of papering over it with a rebuild
    with pytest.raises(Exception, match="stale graph index"):
        graph_ann.nsw_search_indexed(
            blocks, g_stale, qs, k=10, ef=48, m=8, stale="error"
        ).count()

    # index AHEAD of the corpus (blocks deleted since the build without
    # delete_from_graph): stored edges point at removed ids — silently
    # stripping them could break the ring, so the partition must rebuild
    # and equal the index-free search over the shrunken corpus
    g_full = graph_ann.build_acorn_graph(blocks, m=8).localCheckpoint()
    shrunk = blocks.where(F.col("block_id") % 5 != 0)
    fused_shrunk = graph_ann.nsw_search_indexed(shrunk, None, qs, k=10, m=8, ef=48).select(
        "query_id", "block_id", "rank"
    )
    ahead = graph_ann.nsw_search_indexed(
        shrunk, g_full, qs, k=10, ef=48, m=8
    ).select("query_id", "block_id", "rank")
    assert ahead.exceptAll(fused_shrunk).count() == 0
    assert fused_shrunk.exceptAll(ahead).count() == 0


def test_dynamic_graph_prebuilt_equals_fused(spark, sf_dir):
    """D2×D4 capstone, r8 indexed path: feeding knn_dynamic_graph a
    prebuilt per-comb_role adjacency (build_acorn_graph with a STRING part
    key) must return exactly the rows the in-cogroup build computes —
    same deterministic build, the rebuild just moves offline."""
    import __spark_entry__ as entry
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"])
    g = graph_ann.build_acorn_graph(
        store, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    ).localCheckpoint()
    fused = graph_ann.knn_dynamic_graph(
        store, t["queries"], t["query_roles"], k=10, m=8, ef=48
    ).select("query_id", "block_id", "rank")
    indexed = graph_ann.knn_dynamic_graph(
        store, t["queries"], t["query_roles"], k=10, m=8, ef=48, adjacency=g
    ).select("query_id", "block_id", "rank")
    assert indexed.exceptAll(fused).count() == 0
    assert fused.exceptAll(indexed).count() == 0
    assert indexed.count() == fused.count() > 0

    # a STALE adjacency (blocks added to the store after the build) must
    # fall back to the in-cogroup rebuild, never silently drop blocks
    part_store = store.where(F.col("block_id") % 5 != 0)
    g_stale = graph_ann.build_acorn_graph(
        part_store, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    ).localCheckpoint()
    stale = graph_ann.knn_dynamic_graph(
        store, t["queries"], t["query_roles"], k=10, m=8, ef=48, adjacency=g_stale
    ).select("query_id", "block_id", "rank")
    assert stale.exceptAll(fused).count() == 0
    assert fused.exceptAll(stale).count() == 0

    # maintenance generalizes with the part type: inserts into the
    # string-keyed (comb_role) adjacency link without error
    new = store.where(F.col("block_id") % 7 == 0)
    old = store.where(F.col("block_id") % 7 != 0)
    g_old = graph_ann.build_acorn_graph(
        old, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    ).localCheckpoint()
    g_up = graph_ann.insert_into_graph(
        old, g_old, new, m=8, id_col="block_id", vec_col="vector", part_col="comb_role"
    )
    assert g_up.count() == store.count()
    assert dict(g_up.dtypes)["part"] == "string"


def test_graph_index_lifecycle(spark, sf_dir):
    """D2 maintenance parity (insertion/deletion): a prebuilt adjacency
    searches at full recall; incremental inserts link new nodes (search
    finds them); deletes remove nodes from results AND from every
    neighbor list."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    blocks, qs = t["documentblocks"], t["queries"]
    old = blocks.where(F.col("block_id") % 7 != 0)
    new = blocks.where(F.col("block_id") % 7 == 0)

    g0 = graph_ann.build_acorn_graph(old, m=8).localCheckpoint()
    pred0 = graph_ann.nsw_search_indexed(old, g0, qs, k=10, ef=48)
    truth_old = knn.knn_topk_fast(old, qs, k=10)
    r0 = knn.recall_at_k(pred0, truth_old).agg(F.avg("recall")).first()[0]
    assert r0 >= 0.9

    g1 = graph_ann.insert_into_graph(old, g0, new, m=8).localCheckpoint()
    # every block (old + new) has an adjacency row; edges are symmetric
    assert g1.count() == blocks.count()
    edges = g1.select("id", F.explode("neighbors").alias("nb"))
    rev = edges.select(F.col("nb").alias("id"), F.col("id").alias("nb"))
    assert edges.exceptAll(rev).count() == 0
    pred1 = graph_ann.nsw_search_indexed(blocks, g1, qs, k=10, ef=48)
    truth_all = knn.knn_topk_fast(blocks, qs, k=10)
    r1 = knn.recall_at_k(pred1, truth_all).agg(F.avg("recall")).first()[0]
    assert r1 >= 0.85  # incremental graph: slightly looser floor
    # inserted nodes are reachable: some appear in the merged top-k
    got_new = pred1.join(new.select("block_id"), "block_id", "left_semi").count()
    assert got_new > 0

    dels = blocks.where(F.col("block_id") % 5 == 0).select("block_id")
    g2 = graph_ann.delete_from_graph(g1, dels)
    remaining = blocks.join(dels, "block_id", "left_anti")
    assert g2.count() == remaining.count()
    assert g2.select(F.explode("neighbors").alias("nb")).join(
        dels.withColumnRenamed("block_id", "nb"), "nb", "left_semi"
    ).count() == 0
    pred2 = graph_ann.nsw_search_indexed(remaining, g2, qs, k=10, ef=48)
    assert pred2.join(dels, pred2["block_id"] == dels["block_id"], "left_semi").count() == 0


def test_rbac_graph_search_recall_and_permissions(spark, sf_dir):
    """D2×D4: role-routed per-partition graph search must (a) NEVER return
    a block outside the user's permitted set (RBAC exact by construction)
    and (b) reach ≥0.9 recall vs the exact dynamic-store answer."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"]).localCheckpoint()
    pred = graph_ann.knn_dynamic_graph(store, t["queries"], t["query_roles"], k=10, m=8, ef=48)
    truth = dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9
    permitted = (
        t["query_roles"].join(t["permission_assignment"], "role_id")
        .select("query_id", "document_id").distinct()
    )
    leaked = pred.join(permitted, ["query_id", "document_id"], "left_anti").count()
    assert leaked == 0


def test_rbac_graph_search_over_rebalanced_store(spark, sf_dir):
    """D2×D4×D7: the routed graph search must keep working after
    heavy-partition rebalance (split comb partitions keep their role
    semantics, so routing and permission exactness survive the split)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from vectorsearch_rbac_spark.operators import dynamic, graph_ann, knn

    t = entry._rbac(spark, sf_dir)
    store = dynamic.build_store(t["documentblocks"], t["permission_assignment"])
    reb = dynamic.rebalance_heavy_partitions(store, max_partition_size=40).localCheckpoint()
    assert reb.count() == store.count()
    pred = graph_ann.knn_dynamic_graph(reb, t["queries"], t["query_roles"], k=10, m=8, ef=48)
    truth = dynamic.knn_dynamic(store, t["queries"], t["query_roles"], k=10)
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.9


def test_incremental_adjacency_invariants_and_recall():
    """r6 incremental (HNSW-insert) build: pure-kernel invariants — the
    ring backbone is PRESENT edge-for-edge (i ↔ i+1; the guarantee the
    ef≥n exactness proof rests on, strictly stronger than 'no isolated
    nodes'), the graph is one connected component, adjacency is
    symmetric, and the diversity heuristic keeps the mean degree near m
    (it may keep fewer than m per node, as hnswlib does, so a per-node
    m-floor is NOT an invariant) — and the diverse-selection graph must
    beat a recall floor at a size where the exact kNN graph is known to
    degrade."""
    import numpy as np

    from vectorsearch_rbac_spark.operators.graph_ann import (
        _beam_search,
        _incremental_adjacency,
        _medoid,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 16))
    a = rng.integers(0, 200, 6000)
    b = rng.integers(0, 200, 6000)
    w = rng.random((6000, 1))
    vecs = base[a] * w + base[b] * (1 - w) + rng.standard_normal((6000, 16)) * 0.05
    m = 8
    adj = _incremental_adjacency(vecs, m)
    n = len(adj)
    # symmetry + the ring edges THEMSELVES (i ↔ i+1): the exactness
    # certification's connectivity argument needs the chain, not merely
    # degree ≥ 1 — assert it edge-for-edge
    sets = [set(x) for x in adj]
    for u in range(n):
        for v in sets[u]:
            assert u in sets[v]
    for u in range(n - 1):
        assert (u + 1) in sets[u] and u in sets[u + 1]
    # the diversity heuristic prunes per node but must keep the graph
    # dense enough to navigate: mean degree within [m/2, 2m]
    mean_deg = sum(len(s) for s in sets) / n
    assert m / 2 <= mean_deg <= 2 * m
    # ring ⇒ connected: BFS from 0 reaches everything
    seen = {0}
    stack = [0]
    while stack:
        u = stack.pop()
        for v in sets[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    assert len(seen) == n
    # recall floor at ef=64
    norms = (vecs * vecs).sum(axis=1)
    entry = _medoid(vecs)
    hits = 0
    qs = base[rng.integers(0, 200, 20)] + rng.standard_normal((20, 16)) * 0.05
    for q in qs:
        d2 = norms - 2 * (vecs @ q) + q @ q
        truth = set(np.argsort(d2)[:10])
        got = {u for _, u in _beam_search(vecs, adj, entry, q, 10, 64, norms=norms)}
        hits += len(truth & got)
    assert hits / 200 >= 0.9


def test_acorn_over_generated_rbac(spark, t):
    """D5 generality (r7): ACORN must serve a REAL permission relation,
    not just the testdata's arithmetic rule — the reference's
    acorn_benchmark evaluates predicates from actual permission metadata.
    Tree-generator (B3) permissions — a hierarchy closure, nothing
    arithmetic about it — flow in as the ``permissions`` relation:
    (a) the exhaustive traversal (acorn_exact_topk) must EQUAL the exact
    prefilter answer row-for-row, and (b) the recall-mode beam must stay
    PURE (only permitted docs) and clear a 0.85 floor."""
    from vectorsearch_rbac_spark.operators import graph_ann
    from vectorsearch_rbac_spark.rbac import generators

    n_docs = int(t["documentblocks"].agg(F.max("document_id")).first()[0]) + 1
    g = generators.tree_rbac(
        spark, num_users=100, num_documents=int(n_docs), height=3, branching=3
    )
    queries = t["queries"].withColumn("user_id", F.col("query_id") % 100 + 1)
    qroles = (
        queries.select("query_id", "user_id")
        .join(g["user_roles"], "user_id")
        .select("query_id", "role_id")
        .distinct()
    )
    pa = g["permission_assignment"]
    truth = knn.knn_prefilter(t["documentblocks"], queries, qroles, pa, k=10)
    exact = graph_ann.acorn_exact_topk(
        t["documentblocks"], queries, qroles, k=10, permissions=pa
    )
    diff = (
        exact.select("query_id", "block_id", "rank")
        .exceptAll(truth.select("query_id", "block_id", "rank"))
        .count()
    )
    assert diff == 0 and exact.count() == truth.count()

    pred = graph_ann.acorn_search_indexed(
        t["documentblocks"], None, queries, qroles, k=10, m=8, ef=64, permissions=pa
    )
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.85
    permitted = qroles.join(pa, "role_id").select("query_id", "document_id").distinct()
    blocks_docs = t["documentblocks"].select("block_id", "document_id")
    leaked = (
        pred.join(blocks_docs, "block_id")
        .join(permitted, ["query_id", "document_id"], "left_anti")
        .count()
    )
    assert leaked == 0


def test_batched_beams_match_sequential_kernels():
    """r7 lockstep driver: _batched_beams (one gathered einsum per
    superstep across all queries) must return the SAME nodes in the SAME
    order as the per-query reference kernels — _beam_search for plain
    NSW, _acorn_beam for ACORN-1 (2-hop), _acorn_gamma_beam for the
    dense-graph truncation — since per query its pop/push sequence is
    identical by construction."""
    import numpy as np
    from vectorsearch_rbac_spark.operators.graph_ann import (
        _acorn_beam, _acorn_gamma_beam, _batched_beams, _beam_search,
        _build_adjacency, _diverse_sorted_neighbors, _medoid)

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16))
    norms = (vecs * vecs).sum(axis=1)
    adj = _build_adjacency(vecs, 6)
    adjarr = [np.asarray(a, dtype=np.int64) for a in adj]
    qs = rng.normal(size=(25, 16))
    k, ef = 10, 32

    # plain NSW
    entry = _medoid(vecs)
    seq = [_beam_search(vecs, adj, entry, q, k, ef, norms=norms) for q in qs]
    bat = _batched_beams(
        vecs, norms, qs, np.full(len(qs), entry, dtype=np.int64), k, ef,
        lambda i, u: adjarr[u],
    )
    for s, b in zip(seq, bat):
        assert [u for _, u in s] == [u for _, u in b]
        assert np.allclose([d for d, _ in s], [d for d, _ in b], atol=1e-9)

    # ACORN-1 (2-hop) and ACORN-γ against per-query random masks
    masks = [rng.random(len(vecs)) < 0.3 for _ in range(len(qs))]
    entries = []
    for al in masks:
        idx = np.flatnonzero(al)
        mean = vecs[idx].mean(axis=0)
        entries.append(int(idx[np.argmin(((vecs[idx] - mean) ** 2).sum(axis=1))]))
    entries = np.asarray(entries, dtype=np.int64)

    # canonical ACORN-1 order: passing 1-hop first, then 2-hop (the
    # vectorized closure _acorn_masked_search ships)
    def expand1(i, u):
        al = masks[i]
        nb = adjarr[u]
        pm = al[nb]
        passing, failing = nb[pm], nb[~pm]
        if not failing.size:
            return passing
        two = np.concatenate([adjarr[int(v)] for v in failing])
        return np.concatenate([passing, two[al[two]]])

    seq = [_acorn_beam(vecs, adj, q, k, ef, al, norms=norms)
           for q, al in zip(qs, masks)]
    bat = _batched_beams(vecs, norms, qs, entries, k, ef, expand1, dedupe=True)
    for s, b in zip(seq, bat):
        assert [u for _, u in s] == [u for _, u in b]

    m_trunc = 6
    adj_sorted = _diverse_sorted_neighbors(vecs, adj, norms)

    def expand_g(i, u):
        nb = adj_sorted[u]
        if not nb.size:
            return nb
        return nb[masks[i][nb]][:m_trunc]

    seq = [_acorn_gamma_beam(vecs, adj_sorted, q, k, ef, al, m_trunc, norms=norms)
           for q, al in zip(qs, masks)]
    bat = _batched_beams(vecs, norms, qs, entries, k, ef, expand_g)
    for s, b in zip(seq, bat):
        assert [u for _, u in s] == [u for _, u in b]


def test_acorn_beam_kernels():
    """r6 ACORN kernels, numpy-level: (a) max_hops ≥ n + ef ≥ n beam is
    EXHAUSTIVE over the allowed set (equals filtered brute force — the
    acorn_exact oracle proof); (b) no duplicate ids ever enter the beam
    (a passing node reachable through two failing detours); (c) the γ
    truncation beam holds a recall floor on the unpruned nearest-γm
    graph at selectivity 1/γ."""
    import numpy as np

    from vectorsearch_rbac_spark.operators.graph_ann import (
        _acorn_beam,
        _acorn_gamma_beam,
        _build_adjacency,
        _diverse_sorted_neighbors,
    )

    rng = np.random.default_rng(7)
    n, d = 900, 16
    vecs = rng.standard_normal((n, d))
    norms = (vecs * vecs).sum(axis=1)
    adj = _build_adjacency(vecs, 8, method="exact")
    for sel in (0.5, 0.2, 0.05, 0.01):
        allowed = rng.random(n) < sel
        if not allowed.any():
            continue
        q = rng.standard_normal(d)
        kk = min(10, int(allowed.sum()))
        res = _acorn_beam(
            vecs, adj, q, kk, 1 << 30, allowed, norms=norms, max_hops=1 << 30
        )
        ids = [u for _, u in res]
        assert len(ids) == len(set(ids))  # no duplicates in the beam
        d2 = norms - 2 * (vecs @ q) + q @ q
        idx = np.where(allowed)[0]
        want = sorted(idx[np.argsort(d2[idx], kind="stable")][:kk].tolist())
        assert sorted(ids) == want  # exhaustive ⇒ exact filtered top-k

    # γ truncation beam on the unpruned nearest-γm graph
    gamma, m = 4, 8
    adj_g = _build_adjacency(vecs, m * gamma, method="exact")
    adj_sorted = _diverse_sorted_neighbors(vecs, adj_g, norms)
    hits = tot = 0
    for _ in range(20):
        allowed = rng.random(n) < 1.0 / gamma
        if allowed.sum() < 10:
            continue
        q = rng.standard_normal(d)
        d2 = norms - 2 * (vecs @ q) + q @ q
        idx = np.where(allowed)[0]
        truth = set(idx[np.argsort(d2[idx], kind="stable")][:10].tolist())
        got = {
            u for _, u in _acorn_gamma_beam(
                vecs, adj_sorted, q, 10, 96, allowed, m, norms=norms
            )
        }
        assert got <= set(idx.tolist())  # purity: passing nodes only
        hits += len(got & truth)
        tot += 10
    assert hits / tot >= 0.8


def test_graph_exact_topk_matches_bruteforce(spark, sf_dir):
    """r6 certification invariant behind the quantized_topk graph_exact
    tag: ef >= n beam over the ring-connected adjacency + exact rerank
    must equal brute-force top-k EXACTLY (ids and ranks)."""
    from vectorsearch_rbac_spark.functions import vector as V
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    emb = load_table(spark, "embeddings", sf_dir)
    qs = derive.derive_queries(emb, 100)
    pred = graph_ann.graph_exact_topk(emb, qs, k=10)
    scored = emb.crossJoin(F.broadcast(qs)).select(
        "query_id",
        F.col("vec_id").alias("block_id"),
        F.round(V.l2_distance("embedding", "query_vector"), 6).alias("distance"),
    )
    truth = knn.topk_per_query(scored, 10, id_col="block_id")
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in pred.collect()}
    want = {(r["query_id"], r["block_id"], r["rank"]) for r in truth.collect()}
    assert got == want


def test_insert_preserves_ring_connectivity(spark, sf_dir):
    """r6: insert_into_graph re-asserts the ring, so a maintained graph
    stays one connected component (the invariant graph_exact_topk's
    exactness proof rests on)."""
    from vectorsearch_rbac_spark.operators import graph_ann

    emb = load_table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("block_id"), F.col("embedding").alias("vector")
    )
    old = emb.where(F.col("block_id") % 4 != 0)
    new = emb.where(F.col("block_id") % 4 == 0)
    g0 = graph_ann.build_acorn_graph(old, m=8, id_col="block_id", vec_col="vector")
    g1 = graph_ann.insert_into_graph(old, g0, new, m=8, id_col="block_id", vec_col="vector")
    rows = {r["id"]: set(r["neighbors"]) for r in g1.collect()}
    ids = sorted(rows)
    for i in range(len(ids) - 1):
        assert ids[i + 1] in rows[ids[i]], "ring edge missing after insert"
    seen = {ids[0]}
    stack = [ids[0]]
    while stack:
        u = stack.pop()
        for v in rows[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    assert len(seen) == len(ids)


def test_role_churn_decision_matches_python_replay(t, spark):
    """insert_new_role parity: the Spark-expression cost table must equal
    an independent pure-Python replay of insertion.py's
    ΔQueryTime/ΔStorage formula over the same partition statistics, and
    the chosen partition is the (cost, id)-argmin."""
    import math

    blocks, pa = t["documentblocks"], t["permission_assignment"]
    pr = spark.createDataFrame(
        [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)],
        "partition_id long, role_id int",
    )
    store = (
        blocks.join(pa, "document_id").join(F.broadcast(pr), "role_id")
        .select("partition_id", "block_id", "document_id", "vector").distinct()
    )
    new_docs = blocks.where(F.col("document_id") % 7 == 1).select("document_id").distinct()
    new_blocks = blocks.join(new_docs, "document_id").select("block_id", "document_id", "vector")
    dec = {
        r["partition_id"]: r
        for r in dynamic.role_insert_decision(store, pr, pa, new_blocks).collect()
    }

    # ---- python replay over plain sets
    pd_rows = store.select("partition_id", "document_id").distinct().collect()
    pdocs: dict[int, set] = {}
    for r in pd_rows:
        pdocs.setdefault(r["partition_id"], set()).add(r["document_id"])
    role_docs: dict[int, set] = {}
    for r in pa.collect():
        role_docs.setdefault(r["role_id"], set()).add(r["document_id"])
    nd = {r["document_id"] for r in new_docs.collect()}
    k, beta, a, b, T = 0.9, 0.5, 1.0, 8.0, 10
    x = 3
    while (1 + x / 10) - k >= 1:
        x -= 1
    dv = 1 + x / 10

    def ef(s):
        return math.log(1 / (dv - k) - 1) / (-4 * beta * s) * T + k * T / s

    expect = {}
    for p, docs in pdocs.items():
        roles = [2 * p, 2 * p + 1]
        sum_inter = sum(len(docs & role_docs.get(r, set())) for r in roles)
        sel_sum = sum_inter / len(docs)
        sel_b = sel_sum / len(roles)
        sel_a = (sel_sum + len(nd & docs) / len(docs)) / (len(roles) + 1)
        qt_b = math.log(len(docs)) * (a * ef(sel_b) + b)
        qt_a = math.log(len(docs) + len(nd)) * (a * ef(sel_a) + b)
        dst = len(nd) - len(nd & docs)
        expect[p] = (dst, round((qt_a - qt_b) / dst, 6) if dst > 0 else None)
    expect[5] = (len(nd), round(math.log(len(nd)) * (a * ef(1.0) + b) / len(nd), 6))

    assert set(dec) == set(expect)
    for p, (dst, cost) in expect.items():
        assert dec[p]["delta_storage"] == dst, p
        assert dec[p]["cost"] == pytest.approx(cost, abs=1.5e-6) if cost is not None else dec[p]["cost"] is None
    best = min((c, p) for p, (_, c) in expect.items() if c is not None)[1]
    assert dec[best]["chosen"] == 1 and dec[best]["rank"] == 1


def test_role_churn_search_exact_and_delete_semantics(t, spark):
    """Post-churn routed search must equal prefilter over the churned
    permission set (grant role 10, revoke role 1 — a different role from
    the entry's scenario), and delete_role must keep every doc a
    remaining role of the partition still needs while dropping the
    exclusive ones."""
    blocks, pa, qs, qr = (
        t["documentblocks"], t["permission_assignment"], t["queries"], t["query_roles"]
    )
    rtype = pa.schema["role_id"].dataType.simpleString()
    pr = spark.createDataFrame(
        [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)],
        "partition_id long, role_id int",
    )
    store = (
        blocks.join(pa, "document_id").join(F.broadcast(pr), "role_id")
        .select("partition_id", "block_id", "document_id", "vector").distinct()
    )
    new_docs = blocks.where(F.col("document_id") % 7 == 1).select("document_id").distinct()
    new_blocks = blocks.join(new_docs, "document_id").select("block_id", "document_id", "vector")
    store2, pr2 = dynamic.insert_role(store, pr, pa, 10, new_blocks)
    pa_grant = pa.unionByName(new_docs.withColumn("role_id", F.lit(10).cast(rtype)))
    store3, pr3 = dynamic.delete_role(store2, pr2, pa_grant, 1)
    # delete semantics on partition 0 (roles {0, 1}): docs of role 0 all
    # survive; docs exclusive to role 1 are gone
    p0 = {r["document_id"] for r in store3.where(F.col("partition_id") == 0)
          .select("document_id").distinct().collect()}
    d0 = {r["document_id"] for r in pa.where(F.col("role_id") == 0)
          .select("document_id").collect()}
    d1 = {r["document_id"] for r in pa.where(F.col("role_id") == 1)
          .select("document_id").collect()}
    blocked = {r["document_id"] for r in blocks.select("document_id").distinct().collect()}
    assert (d0 & blocked) <= p0
    assert not ((d1 - d0) & blocked & p0)
    # post-churn search == prefilter over churned perms
    pa_after = pa_grant.where(F.col("role_id") != 1)
    qr_after = qr.where(F.col("role_id") != 1).unionByName(
        qs.where(F.col("user_id") % 3 == 0).select(
            "query_id", F.lit(10).cast(rtype).alias("role_id")
        )
    )
    pred = dynamic.knn_role_routed(store3, pr3, qs, qr_after, pa_after, k=10)
    truth = knn.knn_prefilter(blocks, qs, qr_after, pa_after, k=10)
    assert pred.exceptAll(truth).count() == 0
    assert truth.exceptAll(pred).count() == 0
    assert pred.count() == truth.count() > 0


_EXPR_DIST = {
    "l2": V.l2_distance,
    "cosine": V.cosine_distance,
    "ip": V.neg_inner_product,
    "l1": V.l1_distance,
}


def _expr_topk(pairs, k, metric="l2"):
    """Test-only expression reference: ``F.round`` of the codegen'd
    distance over (query, block) pair rows, then the exact window top-k —
    the arithmetic and tie order the DuckDB oracle replays in SQL."""
    scored = pairs.select(
        "query_id", "block_id", "document_id",
        F.round(_EXPR_DIST[metric]("vector", "query_vector"), 6).alias("distance"),
    )
    return knn.topk_per_query(scored, k).select(
        "query_id", "block_id", "document_id", "distance", "rank"
    )


def _qdocs(query_roles, pa):
    return query_roles.join(pa, "role_id").select("query_id", "document_id").distinct()


def _ref_permitted(blocks, queries, query_roles, pa, k=10, metric="l2"):
    """Exact permitted top-k: user roles → permitted docs → blocks."""
    pairs = blocks.join(_qdocs(query_roles, pa), "document_id").join(
        queries.select("query_id", "query_vector"), "query_id"
    )
    return _expr_topk(pairs, k, metric)


def _ref_postfilter(blocks, queries, query_roles, pa, k=10, expansion=4, metric="l2"):
    """Global top-(k·expansion) ignoring permissions, then the permission
    filter, then top-k."""
    glob = _expr_topk(
        blocks.crossJoin(queries.select("query_id", "query_vector")), k * expansion, metric
    ).drop("rank")
    kept = glob.join(_qdocs(query_roles, pa), ["query_id", "document_id"])
    return knn.topk_per_query(kept, k).select(
        "query_id", "block_id", "document_id", "distance", "rank"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _assert_matches(got_df, want_df, label=""):
    got, want = _rows(got_df), _rows(want_df)
    assert len(want) > 0, label
    assert got == want, label


def test_prefilter_numpy_kernel_matches_expr(t):
    """knn_prefilter's masked kernel returns EXACTLY the expression
    reference's rows — same permitted set, same rounded distances, same
    (distance, block_id) tie order — for every metric."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    for metric in ("l2", "cosine", "ip", "l1"):
        _assert_matches(knn.knn_prefilter(*args, k=10, metric=metric),
                        _ref_permitted(*args, k=10, metric=metric), metric)


def test_postfilter_numpy_kernel_matches_expr(t):
    """knn_postfilter (local_topk global phase) ≡ the postfilter
    expression reference, for every metric (the r10 gate-widening pin)."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    for metric in ("l2", "cosine", "l1", "ip"):
        _assert_matches(knn.knn_postfilter(*args, k=10, expansion=4, metric=metric),
                        _ref_postfilter(*args, k=10, expansion=4, metric=metric), metric)


def test_impl_keyword_is_compat_only(t):
    """``impl`` survives only on the four functions older callers pass it
    to: "numpy" is accepted, anything else raises. No other public
    operator function takes an ``impl`` keyword."""
    import importlib
    import inspect
    import pkgutil

    from vectorsearch_rbac_spark import operators

    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    compat = (knn.knn_prefilter, knn.knn_postfilter, knn.knn_comb_role_partition, knn.knn_qdtree)
    for fn in compat:
        with pytest.raises(ValueError, match="impl="):
            fn(*args, k=10, impl="expr")
    _assert_matches(knn.knn_prefilter(*args, k=10, impl="numpy"), _ref_permitted(*args, k=10))

    with_impl = set()
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__ and not name.startswith("_"):
                if "impl" in inspect.signature(fn).parameters:
                    with_impl.add(f"{info.name}.{name}")
    assert with_impl == {f"knn.{fn.__name__}" for fn in compat}


def test_l2_bruteforce_numpy_kernel_matches_expr(t):
    """l2_topk_bruteforce (two-phase kernel) ≡ the expression reference
    on the fp16-quantized frames the halfvec entry feeds it."""
    emb = t["embeddings"].select("vec_id", V.fp16_quantize("embedding").alias("embedding"))
    qs = t["queries"].select("query_id", V.fp16_quantize("query_vector").alias("query_vector"))
    got = _nan_rows(ann.l2_topk_bruteforce(emb, qs, k=10))
    want = _nan_rows(_ref_vec_topk(emb, qs, V.l2_distance("embedding", "query_vector"), 10))
    assert got == want and len(want) > 0


def test_sparse_cosine_numpy_kernel_matches_expr(t):
    """sparse_cosine_topk (scatter-to-dense kernel) ≡ the sparse
    expression reference, including high thresholds that empty some
    vectors (zero-norm → NaN, which must sort last in both)."""
    from vectorsearch_rbac_spark.functions import sparse as SV

    for thr in (0.15, 1.5):
        e = t["embeddings"].select(
            "vec_id", SV.sparse_from_dense("embedding", thr).alias("sv")
        ).select("vec_id", F.col("sv.indices").alias("ie"), F.col("sv.values").alias("ve"))
        qs = t["queries"].select(
            "query_id", SV.sparse_from_dense("query_vector", thr).alias("sv")
        ).select("query_id", F.col("sv.indices").alias("iq"), F.col("sv.values").alias("vq"))
        want = _nan_rows(_ref_vec_topk(e, qs, SV.sparse_cosine_distance("ie", "ve", "iq", "vq"), 10))
        got = _nan_rows(ann.sparse_cosine_topk(t["embeddings"], t["queries"], k=10, threshold=thr))
        assert got == want and len(want) > 0, thr


def test_int8_numpy_kernel_matches_expr(t):
    """int8_topk (int64 matmul kernel) ≡ the expression reference's
    aggregate(zip_with) integer dot, ranked by (-dot, id), bit for bit."""
    from pyspark.sql import Window
    from vectorsearch_rbac_spark.operators import curation

    e = t["embeddings"].select("vec_id", curation.int8_quantize("embedding").alias("qe"))
    q = t["queries"].select("query_id", curation.int8_quantize("query_vector").alias("qq"))
    dot = F.aggregate(F.zip_with("qe", "qq", lambda a, b: a * b), F.lit(0).cast("long"),
                      lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id").asc())
    want = sorted(map(tuple, (
        e.crossJoin(q).select("query_id", "vec_id", dot.alias("dot"))
        .withColumn("rank", F.row_number().over(w).cast("long")).where(F.col("rank") <= 10)
        .collect()
    )))
    got = sorted(map(tuple, curation.int8_topk(t["embeddings"], t["queries"], k=10).collect()))
    assert got == want and len(want) > 0


def test_cosine_searches_zero_norm_empty_and_oversized_k(spark):
    """A zero-norm vector or query has a NaN cosine distance, which ranks
    LAST (after anti-correlated candidates at distance 2), never at 1.0.
    An empty query frame yields 0 rows with the non-empty schema, and
    k > corpus returns every vector exactly once per query."""
    import math

    rows = [
        (0, [1.0, 2.0, 0.5, -1.0]),
        (1, [-1.0, -2.0, -0.5, 1.0]),   # anti-correlated with vector 0
        (2, [0.0, 0.0, 0.0, 0.0]),      # zero norm
        (3, [0.5, -1.0, 2.0, 0.25]),
        (4, [-2.0, -1.5, 0.0, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = spark.createDataFrame(
        [(10, rows[0][1]), (11, rows[2][1])], "query_id long, query_vector array<float>"
    )
    # one plane, one table, hamming-1 multiprobe: every vector is a
    # candidate of every query, so LSH ranks the whole corpus
    searches = {
        "lsh": lambda q, k: ann.cosine_topk_lsh(
            emb, q, k=k, n_planes=1, n_tables=1, multiprobe_hamming=1),
        "bruteforce": lambda q, k: ann.cosine_topk_bruteforce(emb, q, k=k),
        "sparse": lambda q, k: ann.sparse_cosine_topk(emb, q, k=k, threshold=0.0),
    }
    for name, search in searches.items():
        full = search(qs, 10)
        got = full.orderBy("query_id", "rank").collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rs in by_q.items():
            assert sorted(r["vec_id"] for r in rs) == [0, 1, 2, 3, 4], (name, qid)
            assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5], (name, qid)
        q0 = by_q[10]
        assert q0[0]["vec_id"] == 0 and q0[-1]["vec_id"] == 2, (name, q0)
        assert math.isnan(q0[-1]["distance"]), (name, q0)
        assert [r["vec_id"] for r in q0[-2:]] == [1, 2], (name, q0)
        assert all(math.isnan(r["distance"]) for r in by_q[11]), (name, by_q[11])
        assert [r["vec_id"] for r in by_q[11]] == [0, 1, 2, 3, 4], name
        empty = search(qs.limit(0), 10)
        assert empty.count() == 0, name
        assert empty.dtypes == full.dtypes, name


def test_role_family_numpy_kernels_match_expr(t, spark):
    """Every role-partition-family strategy's gather-kernel path (grouped
    pre-cut where the strategy has a local window) and RLS's mask path
    return EXACTLY the permitted expression reference's rows."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    want = _ref_permitted(*args, k=10)
    for fn in (
        knn.knn_role_partition,
        knn.knn_role_partition_logical,
        knn.knn_comb_role_partition,
        knn.knn_rls,
    ):
        _assert_matches(fn(*args, k=10), want, fn.__name__)


def test_qdtree_mask_kernel_matches_expr(t):
    """knn_qdtree (leaf-pruned scan → Q-bit masked local_topk) returns
    EXACTLY the permitted expression reference's rows: leaf routing only
    drops leaves with no permitted doc."""
    args = (t["queries"], t["query_roles"], t["permission_assignment"])
    assigned = partitioning.qdtree_assignment(
        t["documentblocks"], t["permission_assignment"], max_leaf_size=64, max_depth=4
    )
    _assert_matches(knn.knn_qdtree(assigned, *args, k=10),
                    _ref_permitted(t["documentblocks"], *args, k=10))


def test_local_topk_query_chunking_row_identical(t):
    """Query-axis chunking (q_chunk) must be row-identical to the unchunked
    kernel, masked and unmasked — the per-dim folds are elementwise per
    (row, query) and the cut is per-query-column independent."""
    blocks, qs = t["documentblocks"], t["queries"]
    for metric in ("l2", "cosine"):
        a = sorted(map(tuple, knn.local_topk(blocks, qs, 10, metric).collect()))
        b = sorted(map(tuple, knn.local_topk(blocks, qs, 10, metric, q_chunk=3).collect()))
        assert a == b and len(a) > 0, metric
    masks = knn._query_doc_masks(qs, t["query_roles"], t["permission_assignment"])
    joined = blocks.join(F.broadcast(masks), "document_id")
    a = sorted(map(tuple, knn.local_topk(joined, qs, 10, mask_col="qmask").collect()))
    b = sorted(map(tuple, knn.local_topk(joined, qs, 10, mask_col="qmask", q_chunk=7).collect()))
    assert a == b and len(a) > 0


def test_stale_doc_masks_fail_loudly(t):
    """A doc_masks table built over a DIFFERENT query set must raise at
    kernel time (word-count contract), never misalign bit positions and
    return wrong rows silently (ADVICE r9)."""
    blocks, qs = t["documentblocks"], t["queries"]
    good = knn._query_doc_masks(qs, t["query_roles"], t["permission_assignment"])
    # pad to one extra word: a mask built for a larger query set than the
    # one being searched (ceil(Q/64)+1 words vs ceil(Q/64) expected)
    stale = good.withColumn(
        "qmask", F.concat(F.col("qmask"), F.array(F.lit(0).cast("long")))
    )
    with pytest.raises(Exception, match="qmask word count"):
        knn.knn_prefilter(
            blocks, qs, t["query_roles"], t["permission_assignment"],
            k=5, doc_masks=stale,
        ).collect()
    # same word count but a DIFFERENT query-id set: the per-row query-set
    # fingerprint must catch what the word count cannot
    sq = qs.withColumn("query_id", F.col("query_id") + 1)
    sqr = t["query_roles"].withColumn("query_id", F.col("query_id") + 1)
    wrongset = knn._query_doc_masks(sq, sqr, t["permission_assignment"])
    with pytest.raises(Exception, match="query-set hash"):
        knn.knn_prefilter(
            blocks, qs, t["query_roles"], t["permission_assignment"],
            k=5, doc_masks=wrongset,
        ).collect()


def test_mask_kernel_multiword_parity(t, spark):
    """Kernel parity at Q=70 — the fixture workload has Q<64, so the
    multi-word mask unpack (2 packed longs per row, including bit 63 =
    the SIGN bit of the first word) is otherwise never pinned against the
    expression reference."""
    qs = (
        t["queries"]
        .crossJoin(F.broadcast(spark.range(14).select(F.col("id").alias("r"))))
        .select(
            (F.col("query_id") * 1000 + F.col("r")).alias("query_id"),
            "user_id",
            F.transform(
                "query_vector", lambda x: x + F.col("r").cast("double") * 0.001
            ).alias("query_vector"),
        )
    )
    qroles = (
        t["query_roles"]
        .crossJoin(F.broadcast(spark.range(14).select(F.col("id").alias("r"))))
        .select((F.col("query_id") * 1000 + F.col("r")).alias("query_id"), "role_id")
    )
    assert qs.count() == 70
    args = (t["documentblocks"], qs, qroles, t["permission_assignment"])
    want = _ref_permitted(*args, k=10)
    for fn in (knn.knn_prefilter, knn.knn_rls):
        _assert_matches(fn(*args, k=10), want, fn.__name__)


def test_doc_masks_persist_roundtrip(t, spark, tmp_path):
    """The build-once/search-many arm end-to-end THROUGH PERSISTENCE: a
    mask table written to parquet and reloaded in a fresh read must
    produce exactly the in-call rows (fingerprint column survives the
    round trip and validates green)."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    masks = knn._query_doc_masks(t["queries"], t["query_roles"], t["permission_assignment"])
    path = str(tmp_path / "doc_masks")
    masks.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    a = sorted(map(tuple, knn.knn_prefilter(*args, k=10).collect()))
    b = sorted(map(tuple, knn.knn_prefilter(*args, k=10, doc_masks=reloaded).collect()))
    assert a == b and len(a) > 0


def test_role_routed_numpy_kernel_matches_expr(t, spark):
    """dynamic.knn_role_routed (per-(query, partition) gather pre-cut)
    over a 5-partition role store ≡ the permitted expression reference:
    every fixture query role (all < 10) is routed to the partition that
    holds all of its documents, so routing loses nothing."""
    blocks, pa, qs, qr = (
        t["documentblocks"], t["permission_assignment"], t["queries"], t["query_roles"]
    )
    pr = spark.createDataFrame(
        [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)],
        "partition_id long, role_id int",
    )
    store = (
        blocks.join(pa, "document_id").join(F.broadcast(pr), "role_id")
        .select("partition_id", "block_id", "document_id", "vector").distinct()
    )
    assert qr.where(F.col("role_id") >= 10).count() == 0
    _assert_matches(dynamic.knn_role_routed(store, pr, qs, qr, pa, k=10),
                    _ref_permitted(blocks, qs, qr, pa, k=10))


def test_gather_kernel_ip_and_zero_norm_cosine_parity(t, spark):
    """Edge-metric parity for the gather kernel: ip distances are NEGATIVE
    (half-away rounding must match F.round), and a zero-norm corpus vector
    under cosine must yield NaN that sorts LAST in both paths (the
    pandas→Arrow NaN→null mask would otherwise rank it first)."""
    args = (t["documentblocks"], t["queries"], t["query_roles"], t["permission_assignment"])
    for metric in ("ip", "l1"):
        _assert_matches(knn.knn_comb_role_partition(*args, k=10, metric=metric),
                        _ref_permitted(*args, k=10, metric=metric), metric)
    # synthetic zero-norm row: it must never beat a real neighbor
    dim = len(t["queries"].select("query_vector").first()[0])
    blocks = t["documentblocks"].limit(20).select(
        "block_id", "document_id", "vector"
    ).unionByName(spark.createDataFrame(
        [(999999, 999999, [0.0] * dim)], "block_id long, document_id long, vector array<double>"
    ))
    q = t["queries"].limit(3)
    joined = blocks.crossJoin(F.broadcast(q.select("query_id")))
    a = _rows(_expr_topk(
        joined.join(F.broadcast(q.select("query_id", "query_vector")), "query_id"),
        25, "cosine"))
    b = sorted(map(tuple, knn.topk_per_query(
        knn._gather_local_topk(joined, q, 25, metric="cosine"), 25).collect()))
    assert len(a) == len(b) == 3 * 21
    for ra, rb in zip(a, b):
        assert ra[:3] == rb[:3] and ra[4] == rb[4]
        assert (ra[3] == rb[3]) or (ra[3] != ra[3] and rb[3] != rb[3])
    # the zero-norm row is ranked LAST for every query in both paths
    assert all(r[4] == 21 for r in a if r[1] == 999999)
    assert sum(1 for r in b if r[1] == 999999) == 3


def test_global_graph_postfilter_recall_floor(spark, sf_dir):
    """The global-graph postfilter strategy (r11 — the reference's
    main_global_postfilter_comparison.cpp row): a global persisted NSW
    beam at k·expansion, permission filter, top-k. Measured against the
    EXACT postfilter answer, so the floor pins only the beam's loss."""
    import __spark_entry__ as e

    rec = e.q_graph_postfilter_recall(spark, sf_dir).agg(F.avg("recall")).first()[0]
    assert rec >= 0.7


def test_scan_cost_routing4_bands(spark):
    """r11: the FOUR-way router's regime picture — with a clustered layout
    the read volume differs between scan arms, so the model prices an
    explicit read term and the qd-tree leaf scan WINS ITS BAND (mid-low
    selectivity with effective pruning), between acorn's constant beam and
    postfilter's dense-permission regime. Deterministic literal costs:
    N=10⁴, k·e=40 → post=40/s; ef·m=384; read_cost=0.1."""
    from vectorsearch_rbac_spark.plans.strategy import scan_cost_routing

    queries = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "query_id long, user_id long"
    )
    sel = spark.createDataFrame(
        [(10, 0.9), (20, 0.02), (30, 0.001), (40, 0.02)],
        "user_id long, selectivity double",
    )
    lf = spark.createDataFrame(
        # q4 has no leaf_frac row → coalesces to 1.0 (no pruning): its
        # qd cost ties prefilter's at (0.1+0.02)·10⁴=1200, and acorn's
        # constant 384 undercuts both — the unpruned query falls back to
        # the beam, never to a more expensive scan
        [(1, 0.9), (2, 0.1), (3, 0.5)], "query_id long, leaf_frac double"
    )
    got = {
        r["query_id"]: r["strategy"]
        for r in scan_cost_routing(queries, sel, 10_000, leaf_fracs=lf).collect()
    }
    # q1: post=44.4 beats all; q2: qd=(0.01+0.02)·10⁴=300 < ac=384 < pre;
    # q3: ac=384 < qd=510 < pre; q4: ac=384 < qd=pre=1200
    assert got == {1: "postfilter", 2: "qdtree", 3: "acorn", 4: "acorn"}
    # and the 3-way form is untouched: same inputs, no leaf_fracs →
    # the certified cost3 decisions (sel·N model, no read term)
    got3 = {
        r["query_id"]: r["strategy"]
        for r in scan_cost_routing(queries, sel, 10_000).collect()
    }
    # without a layout there is no read-term difference: sel·N stays tiny
    # (10-200) and prefilter wins everywhere post doesn't
    assert got3 == {1: "postfilter", 2: "prefilter", 3: "prefilter", 4: "prefilter"}


def test_adaptive_knn_cost4_qdtree_arm(t, spark):
    """cost4 end-to-end: the routed union covers every query, the qd-tree
    arm actually serves some of them, and — because the qd-tree scan is
    EXACT — every qdtree-routed query's rows equal the exact permitted
    answer."""
    from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

    blocks = t["documentblocks"]
    assigned = partitioning.qdtree_assignment(
        blocks, t["permission_assignment"], max_leaf_size=32, max_depth=4
    ).localCheckpoint()
    # knobs that put the testdata workload (sel 0.3-0.4, leaf_frac ~0.7,
    # N=500) inside the qd-tree band: expansion=24 lifts the postfilter
    # walk cost (k·e/s ≥ 600) above the pruned scan's ~185-235, and the
    # default ef·m=384 beam sits above it too
    out = adaptive_knn(
        blocks, t["queries"], t["query_roles"], t["permission_assignment"],
        t["user_roles"], k=10, routing_mode="cost4", n_corpus=blocks.count(),
        qdtree_blocks=assigned, expansion=24,
    ).localCheckpoint()
    assert out.select("query_id").distinct().count() == t["queries"].count()
    strategies = {r["strategy"] for r in out.select("strategy").distinct().collect()}
    assert "qdtree" in strategies, f"no query routed to the qd-tree arm: {strategies}"
    qd_q = out.where(F.col("strategy") == "qdtree").select("query_id").distinct()
    truth = knn.knn_prefilter(
        blocks,
        t["queries"].join(qd_q, "query_id", "left_semi"),
        t["query_roles"].join(qd_q, "query_id", "left_semi"),
        t["permission_assignment"], k=10,
    )
    got = _ids(out.where(F.col("strategy") == "qdtree"))
    assert got == _ids(truth)

    with pytest.raises(ValueError, match="cost4 routing requires qdtree_blocks"):
        adaptive_knn(
            blocks, t["queries"], t["query_roles"], t["permission_assignment"],
            t["user_roles"], k=10, routing_mode="cost4",
        )
    with pytest.raises(ValueError, match="qdtree_blocks requires"):
        adaptive_knn(
            blocks, t["queries"], t["query_roles"], t["permission_assignment"],
            t["user_roles"], k=10, routing_mode="cost3", qdtree_blocks=assigned,
        )


def test_adaptive_entry_cost4_sections_cover_live_arms(spark, sf_dir):
    """The r11 cost4 registry sections (oracle-certified 4-way decisions
    over the SQL-replayable permission-residue layout) must populate every
    LIVE arm across the two sections — prefilter is provably vestigial
    under cost4 (qd ≤ pre whenever lf ≤ 1), so the live set is
    {postfilter, acorn, qdtree}. Pins the knob tuning: a knob drift that
    collapses a section to one arm un-certifies a regime."""
    import __spark_entry__ as e

    df = e.q_rbac_adaptive_topk(spark, sf_dir).where("section like 'cost4%'")
    arms = {
        (r["section"], r["strategy"])
        for r in df.select("section", "strategy").distinct().collect()
    }
    assert {s for _, s in arms} == {"postfilter", "acorn", "qdtree"}
    assert {s for sec, s in arms if sec == "cost4"} == {"postfilter", "qdtree"}
    assert {s for sec, s in arms if sec == "cost4gen"} == {"acorn", "qdtree"}


@pytest.fixture(scope="module")
def edge(t, spark):
    """Edge workload over the t fixture's corpus and permissions.

    - every fixture query, with its user's roles;
    - a query whose user holds NO roles (no query_roles / user_roles rows);
    - a TIE query: a copy of the first query (same user, same roles) whose
      vector equals a block B0 its user may read; B0 is duplicated twice
      under fresh block ids with the same document, so three permitted
      blocks sit at distance 0 and a k=2 cut must keep the two smallest
      block ids.
    """
    pa, qs, qr = t["permission_assignment"], t["queries"], t["query_roles"]
    base = t["documentblocks"]
    q0 = qs.orderBy("query_id").first()
    roles0 = {r["role_id"] for r in qr.where(F.col("query_id") == q0["query_id"]).collect()}
    docs0 = {r["document_id"] for r in pa.where(F.col("role_id").isin(list(roles0))).collect()}
    b0 = base.where(F.col("document_id").isin(list(docs0))).orderBy("block_id").first()
    top = base.agg(F.max("block_id")).first()[0]
    dups = [
        base.where(F.col("block_id") == b0["block_id"]).withColumn("block_id", F.lit(top + i).cast("long"))
        for i in (1, 2)
    ]
    blocks = base.unionByName(dups[0]).unionByName(dups[1]).cache()
    qmax = qs.agg(F.max("query_id")).first()[0]
    umax = t["user_roles"].agg(F.max("user_id")).first()[0]
    no_role, tie = qmax + 1, qmax + 2
    extra = spark.createDataFrame(
        [(no_role, umax + 1, list(b0["vector"])), (tie, q0["user_id"], list(b0["vector"]))],
        qs.select("query_id", "user_id", "query_vector").schema,
    )
    queries = qs.select("query_id", "user_id", "query_vector").unionByName(extra).cache()
    rtype = qr.schema["role_id"].dataType.simpleString()
    qroles = qr.unionByName(
        spark.createDataFrame([(tie, int(r)) for r in roles0], f"query_id long, role_id {rtype}")
    ).cache()
    return {
        "blocks": blocks, "queries": queries, "query_roles": qroles, "pa": pa,
        "user_roles": t["user_roles"], "no_role": no_role, "tie": tie,
        "tie_ids": [b0["block_id"], top + 1],
    }


def _edge_search(name, e, spark):
    """name → fn(k) running that strategy over the edge workload."""
    from vectorsearch_rbac_spark.operators import layout
    from vectorsearch_rbac_spark.plans import strategy

    b, q, qr, pa = e["blocks"], e["queries"], e["query_roles"], e["pa"]
    if name in ("knn_prefilter", "knn_postfilter", "knn_role_partition",
                "knn_role_partition_logical", "knn_comb_role_partition", "knn_rls"):
        return lambda k: getattr(knn, name)(b, q, qr, pa, k=k)
    if name == "knn_qdtree":
        assigned = partitioning.qdtree_assignment(b, pa, max_leaf_size=64, max_depth=4)
        return lambda k: knn.knn_qdtree(assigned, q, qr, pa, k=k)
    if name == "knn_role_routed":
        pr = spark.createDataFrame(
            [(p, r) for p in range(5) for r in (2 * p, 2 * p + 1)], "partition_id long, role_id int"
        )
        store = (
            b.join(pa, "document_id").join(F.broadcast(pr), "role_id")
            .select("partition_id", "block_id", "document_id", "vector").distinct()
        )
        return lambda k: dynamic.knn_role_routed(store, pr, q, qr, pa, k=k)
    if name == "knn_budget":
        from vectorsearch_rbac_spark.rbac import derive

        sel = derive.block_selectivity(e["user_roles"], pa, b)
        opt = layout.optimize_layout(b, pa, q, e["user_roles"], selectivity=sel, alpha=1.5)
        store = layout.build_budget_store(b, pa, opt["assignment"])
        return lambda k: layout.knn_budget(store, q, qr, opt["routing"], opt["assignment"], k=k)
    if name == "knn_dynamic":
        store = dynamic.build_store(b, pa)
        return lambda k: dynamic.knn_dynamic(store, q, qr, k=k)
    if name == "adaptive_knn":
        return lambda k: strategy.adaptive_knn(b, q, qr, pa, e["user_roles"], k=k, routing_mode="cost")
    # graph searches at knobs where the beam is provably exhaustive: ef
    # (and ACORN's failing-run depth) above the corpus size over the
    # ring-connected graph
    from vectorsearch_rbac_spark.operators import graph_ann

    if name in ("acorn_search_indexed", "acorn_search_indexed_no_index"):
        g = None if name.endswith("_no_index") else graph_ann.build_acorn_graph(
            b, m=8, build_method="exact"
        ).localCheckpoint()
        docs = b.select("block_id", "document_id")
        return lambda k: graph_ann.acorn_search_indexed(
            b, g, q, qr, k=k, m=8, ef=1 << 30, max_hops=1 << 30, permissions=pa,
            build_method="exact",
        ).join(docs, "block_id")
    if name == "knn_dynamic_graph":
        store = dynamic.build_store(b, pa)
        return lambda k: graph_ann.knn_dynamic_graph(store, q, qr, k=k, ef=1 << 30)
    raise KeyError(name)


@pytest.mark.parametrize("name", [
    "knn_prefilter", "knn_postfilter", "knn_role_partition", "knn_role_partition_logical",
    "knn_comb_role_partition", "knn_rls", "knn_qdtree", "knn_role_routed", "knn_budget",
    "knn_dynamic", "adaptive_knn", "acorn_search_indexed_no_index", "acorn_search_indexed",
    "knn_dynamic_graph",
])
def test_access_contract_edge_cases(edge, spark, name):
    """The access contract on its edge cases, for every RBAC strategy:
    a user with no roles gets 0 rows (no crash); with k above every
    user's permitted block count the result is EXACTLY the permitted
    blocks; duplicate vectors tied at the cut resolve by block_id; and no
    returned (query, document) pair falls outside the user's roles."""
    search = _edge_search(name, edge, spark)
    roles: dict = {}
    for r in edge["query_roles"].collect():
        roles.setdefault(r["query_id"], set()).add(r["role_id"])
    role_docs: dict = {}
    for r in edge["pa"].collect():
        role_docs.setdefault(r["role_id"], set()).add(r["document_id"])
    block_doc = {r["block_id"]: r["document_id"] for r in edge["blocks"].select("block_id", "document_id").collect()}
    qids = [r["query_id"] for r in edge["queries"].select("query_id").collect()]
    allowed = {q: set().union(*(role_docs.get(x, set()) for x in roles.get(q, ()))) for q in qids}

    def check(rows):
        assert len({(r["query_id"], r["block_id"]) for r in rows}) == len(rows), "duplicate result rows"
        for r in rows:
            assert r["document_id"] in allowed[r["query_id"]], ("leak", r)
            assert block_doc[r["block_id"]] == r["document_id"]
        assert not [r for r in rows if r["query_id"] == edge["no_role"]]

    k_big = len(block_doc) + 5
    rows = search(k_big).collect()
    check(rows)
    for q in qids:
        want = {b for b, d in block_doc.items() if d in allowed[q]}
        assert {r["block_id"] for r in rows if r["query_id"] == q} == want, q

    rows = search(2).collect()
    check(rows)
    tie = sorted((r["block_id"], r["distance"]) for r in rows if r["query_id"] == edge["tie"])
    assert tie == [(b, 0.0) for b in edge["tie_ids"]]
