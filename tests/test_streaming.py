"""Structured Streaming tests (SURVEY.md §2 G-group): file-source stream of
event batches → windowed agg, dedup, session windows, and comb-role
partitioned insertion, all with availableNow triggers so they run bounded."""

import json
import os

import pytest
from pyspark.sql import functions as F

from vectorsearch_rbac_spark.sources import load_table
from vectorsearch_rbac_spark.rbac import derive
from vectorsearch_rbac_spark import streaming as S


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    p = tmp_path_factory.mktemp("events_in")
    load_table(spark, "events", sf_dir).limit(2000).coalesce(2).write.mode("overwrite").parquet(str(p / "drop"))
    return str(p / "drop")


def _run(stream_df, tmp, name):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", f"{tmp}/{name}/out")
        .option("checkpointLocation", f"{tmp}/{name}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return f"{tmp}/{name}/out"


def test_windowed_counts_match_batch(spark, event_dir, tmp_path, sf_dir):
    stream = S.stream_events_from_dir(spark, event_dir, max_files_per_trigger=1)
    out = _run(S.windowed_event_counts(stream), str(tmp_path), "win")
    got = spark.read.parquet(out)
    batch = S.windowed_event_counts(spark.read.parquet(event_dir))
    # append-mode emits only windows sealed by the watermark; every emitted
    # window must match the batch computation exactly
    j = got.join(batch, ["window_start", "event_type"], "left")
    assert got.count() > 0
    assert j.where(got["n_events"] != batch["n_events"]).count() == 0


def test_bounded_memory_replay_equals_batch(spark, event_dir):
    """complete-mode availableNow replay into a memory sink must equal the
    batch plan exactly — the harness behind the streaming_hourly_stats
    oracle entry (no window held back, unlike append mode)."""
    stream = S.stream_events_from_dir(spark, event_dir, max_files_per_trigger=1)
    got = S.run_bounded_to_memory(S.hourly_stats_stream(stream))
    batch = S.hourly_stats_stream(spark.read.parquet(event_dir))
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_streaming_dedup(spark, event_dir, tmp_path):
    stream = S.stream_events_from_dir(spark, event_dir)
    out = _run(S.streaming_dedup(stream), str(tmp_path), "dedup")
    got = spark.read.parquet(out)
    src = spark.read.parquet(event_dir)
    assert got.count() == src.select("event_id").distinct().count()


def test_streaming_sessionize_matches_batch(spark, event_dir, tmp_path):
    """Every session the stream seals must agree with the batch lag-based
    sessionization on (user, start, size, value) — same gap semantics."""
    from vectorsearch_rbac_spark.plans import queries as PQ

    stream = S.stream_events_from_dir(spark, event_dir)
    out = _run(S.streaming_sessionize(stream, gap_minutes=30), str(tmp_path), "sess")
    got = spark.read.parquet(out)
    assert got.count() > 0
    assert {"user_id", "started", "ended", "n_events"} <= set(got.columns)

    batch = PQ.sessionize_events(spark.read.parquet(event_dir), gap_minutes=30)
    stream_keys = {
        (r["user_id"], r["started"], r["n_events"], round(r["total_value"] or 0, 4))
        for r in got.collect()
    }
    batch_keys = {
        (r["user_id"], r["started"], r["n_events"], round(r["total_value"] or 0, 4))
        for r in batch.collect()
    }
    # append mode emits only watermark-sealed sessions → subset of batch
    assert stream_keys, "no sessions sealed"
    assert stream_keys <= batch_keys


def test_stateful_user_stats_converges(spark, event_dir, tmp_path):
    """applyInPandasWithState across micro-batches: final running totals per
    user must equal the batch groupBy."""
    stream = S.stream_events_from_dir(spark, event_dir, max_files_per_trigger=1)
    q = (
        S.stateful_user_stats(stream)
        .writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, MAX(n_events) AS n_events, MAX(total_value) AS total_value "
        "FROM user_stats GROUP BY user_id"
    )
    batch = (
        spark.read.parquet(event_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
    )
    diff = (
        got.alias("g")
        .join(batch.alias("b"), "user_id", "full")
        .where(
            (F.col("g.n_events") != F.col("b.n_events"))
            | (F.abs(F.col("g.total_value") - F.col("b.total_value")) > 1e-6)
        )
    )
    assert got.count() == batch.count()
    assert diff.count() == 0


def test_streaming_block_insertion(spark, sf_dir, tmp_path):
    emb = load_table(spark, "embeddings", sf_dir)
    doc = load_table(spark, "documents", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    t = derive.derive_rbac(cust, doc, emb)

    src = str(tmp_path / "new_blocks")
    t["documentblocks"].limit(100).select(
        "block_id", "document_id", F.to_json("vector").alias("vector")
    ).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(S.BLOCK_SCHEMA).parquet(src)
    q = S.streaming_block_insertion(
        stream, t["permission_assignment"], str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    back = spark.read.parquet(str(tmp_path / "store"))
    assert back.count() == 100
    assert "comb_role" in back.columns


def test_streaming_corpus_filter_admits_only_novel_quality_docs(spark, sf_dir, tmp_path):
    """G5 stream-static admission: duplicate docs (same fingerprint as the
    static corpus) are rejected; novel docs pass iff quality >= threshold;
    stream result == the equivalent batch anti-join."""
    from vectorsearch_rbac_spark.functions import text as T
    from vectorsearch_rbac_spark.streaming.pipelines import streaming_corpus_filter

    corpus = load_table(spark, "documents", sf_dir)
    # incoming drop: 20 exact duplicates (re-keyed) + 20 unseen docs
    dupes = corpus.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    novel = corpus.orderBy("doc_id").limit(40).subtract(corpus.limit(20)).limit(20).withColumn(
        "text", F.concat(F.col("text"), F.lit(" entirely fresh suffix tokens"))
    ).withColumn("doc_id", F.col("doc_id") + 2_000_000)
    incoming_dir = str(tmp_path / "incoming")
    dupes.unionByName(novel).coalesce(1).write.mode("overwrite").parquet(incoming_dir)

    out = _run(
        streaming_corpus_filter(spark, incoming_dir, corpus, quality_min=0.0),
        str(tmp_path), "admit",
    )
    got = spark.read.parquet(out)
    got_ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert all(i >= 2_000_000 for i in got_ids), "no duplicate may be admitted"
    # batch equivalent: same anti join on fingerprints
    fps = corpus.select(T.fingerprint("text").alias("fp")).distinct()
    batch = (
        spark.read.parquet(incoming_dir)
        .select("doc_id", T.fingerprint("text").alias("fp"))
        .join(fps, "fp", "left_anti")
    )
    assert got_ids == {r["doc_id"] for r in batch.select("doc_id").collect()}


def test_stream_stream_join_matches_batch_range_join(spark, event_dir, tmp_path):
    """G7: the streamed purchase×view interval join must equal the batch
    range join over the same drop — inclusive upper bound, exclusive
    1-hour lower bound, same-user only."""
    out = _run(
        S.stream_stream_view_purchase_join(spark, event_dir), str(tmp_path), "ssj"
    )
    got = spark.read.parquet(out)
    ev = spark.read.parquet(event_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    batch = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "view_id")
    assert got.count() > 0
    g = {(r["purchase_id"], r["view_id"]) for r in got.select("purchase_id", "view_id").collect()}
    b = {(r["purchase_id"], r["view_id"]) for r in batch.collect()}
    assert g == b


def test_streaming_ivf_route_matches_batch_assignment(spark, sf_dir, tmp_path):
    """G8: vectors routed in-flight must land on the same anchor centroid
    as the batch argmin (6-dp rounded distance, centroid-id tie-break)."""
    emb = load_table(spark, "embeddings", sf_dir)
    drop = str(tmp_path / "emb_in")
    emb.where(F.col("vec_id") % 3 == 1).coalesce(2).write.mode("overwrite").parquet(drop)
    anchors = [
        r["embedding"]
        for r in emb.where(F.col("vec_id") % 37 == 0).orderBy("vec_id").limit(8)
        .select("embedding").collect()
    ]
    out = _run(S.streaming_ivf_route(spark, drop, emb.schema, anchors), str(tmp_path), "ivfr")
    got = {(r["vec_id"], r["centroid_id"]) for r in spark.read.parquet(out).collect()}

    from vectorsearch_rbac_spark.functions import vector as V
    from pyspark.sql import Window

    a_df = spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(anchors)],
        "centroid_id int, anchor array<double>",
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.round(V.l2_distance("embedding", "anchor"), 6), F.col("centroid_id")
    )
    batch = (
        emb.where(F.col("vec_id") % 3 == 1).crossJoin(F.broadcast(a_df))
        .withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    )
    want = {(r["vec_id"], r["centroid_id"]) for r in batch.select("vec_id", "centroid_id").collect()}
    assert got == want and len(got) > 0


def test_streaming_graph_inserts_match_batch_graph(spark, sf_dir, tmp_path):
    """G8b: after streaming micro-batches of new vectors through the
    foreachBatch graph-insert loop, the index must (a) cover every node
    with symmetric edges and (b) search at the same recall floor as a
    graph built over the final corpus in one shot."""
    from vectorsearch_rbac_spark.operators import graph_ann, knn

    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.where(F.col("vec_id") % 3 == 0)
    new = emb.where(F.col("vec_id") % 3 != 0)
    drop = str(tmp_path / "graph_in")
    new.repartition(3).write.mode("overwrite").parquet(drop)

    g0 = graph_ann.build_acorn_graph(old, m=8, id_col="vec_id", vec_col="embedding")
    blocks, graph = S.run_streaming_graph_inserts(
        spark, drop, emb.select("vec_id", "embedding").schema,
        old.select("vec_id", "embedding"), g0, m=8,
    )
    assert blocks.count() == emb.count() and graph.count() == emb.count()
    edges = graph.select("id", F.explode("neighbors").alias("nb"))
    rev = edges.select(F.col("nb").alias("id"), F.col("id").alias("nb"))
    assert edges.exceptAll(rev).count() == 0

    qs = emb.where(F.col("vec_id") % 101 == 0).limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vector")
    )
    pred = graph_ann.nsw_search_indexed(
        blocks, graph, qs, k=10, ef=48, id_col="vec_id", vec_col="embedding"
    ).withColumnRenamed("vec_id", "block_id")
    truth = graph_ann.nsw_search_indexed(
        emb, None, qs, k=10, m=8, ef=256, id_col="vec_id", vec_col="embedding"
    ).withColumnRenamed("vec_id", "block_id")
    r = knn.recall_at_k(pred, truth).agg(F.avg("recall")).first()[0]
    assert r >= 0.8  # incremental inserts: looser floor than a fresh build


def test_observed_admission_metrics_match_result(spark, sf_dir, tmp_path):
    """G10: the observe() metrics the stream reports per micro-batch must
    SUM to exactly what landed in the sink — admitted count and token
    volume are cross-checked against the admitted rows themselves."""
    from vectorsearch_rbac_spark.streaming import pipelines as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    drop = str(tmp_path / "in")
    docs.where(F.col("doc_id") % 2 == 1).repartition(2).write.parquet(drop)
    static = docs.where(F.col("doc_id") % 2 == 0)
    admitted, metrics = S.run_observed_admission(spark, drop, static, quality_min=0.3)
    n = admitted.count()
    assert n > 0 and len(metrics) >= 1
    assert sum(m["n_admitted"] for m in metrics) == n
    tok = admitted.agg(F.sum("n_tokens")).first()[0]
    assert sum(m["token_volume"] or 0 for m in metrics) == tok
    for m in metrics:
        if m["n_admitted"]:
            assert 0.0 <= m["mean_quality"] <= 1.0
