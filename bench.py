"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "recall": {strategy: {"recall_at_10": r, "sec": s}}, "sf": ...}

The ``recall`` block mirrors the reference's ``run_search_experiment``
(basic_benchmark/common_function.py): per-strategy (latency, recall@10)
pairs, so speed and accuracy are read together — a fast ANN strategy only
counts if its recall holds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from vectorsearch_rbac_spark.sources import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Registry entries are the driver-checked surface; merged union entries
# (rbac_layouts, neardup_pairs, retrieval, ann_recall) are benched through
# their member functions instead so per-operator timings stay visible.
EXTRA = {
    "rbac_comb_role_topk": entry.q_rbac_comb_role_topk,
    "rbac_logical_role_topk": entry.q_rbac_logical_role_topk,
    # r10: the two members that moved to the masked kernel this round —
    # benched standalone so their timings are visible per-operator
    "rbac_rls_topk": entry.q_rbac_rls_topk,
    "rbac_qdtree_topk": entry.q_rbac_qdtree_topk,
    "rbac_topk_fast": entry.q_rbac_topk_fast,
    "cosine_topk": entry.q_cosine_topk,
    "hamming_topk": entry.q_hamming_topk,
    "sparse_cosine_topk": entry.q_sparse_cosine_topk,
    "halfvec_topk": entry.q_halfvec_topk,
    "int8_topk": entry.q_int8_topk,
    "cosine_neardup": entry.q_cosine_neardup,
    "minhash_candidates": entry.q_minhash_candidates,
    "ngram_jaccard": entry.q_ngram_jaccard,
    "simhash_pairs": entry.q_simhash_pairs,
    "exactsubstr_cut": entry.q_exactsubstr_cut,
    "incremental_dedup": entry.q_incremental_dedup,
    "shard_corpus": entry.q_shard_corpus,
    "bm25_topk": entry.q_bm25_topk,
    "rbac_bm25_topk": entry.q_rbac_bm25_topk,
    "hybrid_rrf_topk": entry.q_hybrid_rrf_topk,
    "ivf_recall": entry.q_ivf_recall,
    "hourly_event_stats": entry.q_hourly_event_stats,
    "pq_recall": entry.q_pq_recall,
    "ivfpq_recall": entry.q_ivfpq_recall,
    "graph_recall": entry.q_graph_recall,
    "graph_postfilter_recall": entry.q_graph_postfilter_recall,
    "rbac_graph_recall": entry.q_rbac_graph_recall,
    "acorn_recall": entry.q_acorn_recall,
    "acorn_gamma_recall": entry.q_acorn_gamma_recall,
    # the registry entry unions three streaming members for the oracle;
    # bench times the hourly member alone so the timing stays comparable
    "streaming_hourly": entry.q_streaming_hourly_only,
    # members of the r4 merged entries (semi_anti_joins, time_buckets,
    # temporal_joins) — benched individually so per-operator timings stay
    "order_priority_returns": entry.q_order_priority_returns,
    "brands_without_returns": entry.q_brands_without_returns,
    "daily_type_pivot": entry.q_daily_type_pivot,
    "time_rollup": entry.q_time_rollup,
    "asof_last_order": entry.q_asof_last_order,
    "range_join_trailing_hour": entry.q_range_join_trailing_hour,
    "small_quantity_revenue": entry.q_small_quantity_revenue,
    "cohort_retention": entry.q_cohort_retention,
    "mmr_topk": entry.q_mmr_topk,
    "maxsim_topk": entry.q_maxsim_topk,
    "stream_stream_join": entry.q_stream_stream_join,
    # pure TF-IDF keeps the rounds-2/3 key comparable; the registry entry
    # grew vocab + BPE tags, timed separately under vocab_bpe_build
    "tfidf_top_terms": entry.q_tfidf_only,
    "vocab_bpe_build": entry.q_vocab_bpe,
    # F14 folded into the time_buckets union entry; benched standalone
    "events_json_stats": entry.q_events_json_stats,
    # F3 folded into the tpch_deep union entry; benched standalone
    "nation_volume": entry.q_nation_volume,
}

HEADLINE = [
    "rbac_prefilter_topk",
    "rbac_postfilter_topk",
    "rbac_comb_role_topk",
    "rbac_logical_role_topk",
    "rbac_rls_topk",
    "rbac_qdtree_topk",
    "rbac_dynamic_topk",
    "rbac_dynamic_budget_topk",
    "rbac_topk_fast",
    "rbac_prefilter_zipf_topk",
    "sharing_tree_rbac_topk",
    "cosine_topk",
    "hamming_topk",
    "sparse_cosine_topk",
    "halfvec_topk",
    "cosine_neardup",
    "minhash_candidates",
    "neardup_clusters",
    "ngram_jaccard",
    "simhash_pairs",
    "exactsubstr_cut",
    "incremental_dedup",
    "shard_corpus",
    "multimodal_features",
    "text_stats",
    "pii_scrub",
    "tfidf_top_terms",
    "int8_topk",
    "curated_corpus",
    "remove_boilerplate",
    "random_projection",
    "stratified_sample",
    "pack_sequences",
    "mixture_sample",
    "quality_quantile_filter",
    "contamination_check",
    "bm25_topk",
    "rbac_bm25_topk",
    "hybrid_rrf_topk",
    "skew_salted_join",
    "order_priority_returns",
    "brands_without_returns",
    "pricing_summary",
    "revenue_rollup",
    "shipping_priority",
    "nation_volume",
    "tpch_deep",
    "sessionize_events",
    "streaming_hourly",
    "events_json_stats",
    "sketches",
    "daily_type_pivot",
    "asof_last_order",
    "range_join_trailing_hour",
    "time_rollup",
    "funnel_steps",
    "cohort_retention",
    "scd2_orders",
    "doc_chunks",
    "small_quantity_revenue",
    "mmr_topk",
    "maxsim_topk",
    "vocab_bpe_build",
    # stream_stream_join is exercised by the correctness entry's 'join'
    # member; 3× bench repeats of a stateful streaming query add ~2 min of
    # fixed state-store overhead for no ranking signal, so it isn't a
    # headline timing
    "store_lifecycle",
    "generator_relations",
    "tuning_curve",
    "ivf_recall",
    "pq_recall",
    "ivfpq_recall",
    "graph_recall",
    "graph_postfilter_recall",
    "rbac_graph_recall",
    "acorn_recall",
    "acorn_gamma_recall",
]


# The rounds-2/3 bench keys (BENCH_r02/r03, minus streaming_hourly_stats
# whose entry was reworked into a multi-member union): their subtotal is
# emitted alongside the full total so round-over-round deltas compare the
# same work — the full list keeps growing as operators land.
R2_KEYS = [
    "rbac_prefilter_topk", "rbac_postfilter_topk", "rbac_comb_role_topk",
    "rbac_dynamic_topk", "rbac_topk_fast", "rbac_prefilter_zipf_topk",
    "sharing_tree_rbac_topk", "cosine_topk", "hamming_topk",
    "sparse_cosine_topk", "halfvec_topk", "cosine_neardup",
    "minhash_candidates", "neardup_clusters", "ngram_jaccard",
    "simhash_pairs", "text_stats", "pii_scrub", "tfidf_top_terms",
    "int8_topk", "curated_corpus", "remove_boilerplate", "random_projection",
    "stratified_sample", "pack_sequences", "mixture_sample",
    "quality_quantile_filter", "contamination_check", "bm25_topk",
    "rbac_bm25_topk", "hybrid_rrf_topk", "skew_salted_join",
    "order_priority_returns", "brands_without_returns", "pricing_summary",
    "revenue_rollup", "shipping_priority", "nation_volume",
    "sessionize_events", "events_json_stats", "daily_type_pivot",
    "asof_last_order", "range_join_trailing_hour", "time_rollup",
    "ivf_recall", "pq_recall",
]


# STABLE itemization set (r12, VERDICT r11 item 2): when the final JSON
# line overflows the driver's 1900-char window, itemize EXACTLY these keys
# (the BENCH_r11 itemized set + the scd2_orders entry the slowest-N fold
# silently displaced) and fold the rest into _other_sum. The old fold kept
# the slowest N, so any drift or new entry RESHUFFLED which queries were
# named and broke the driver's round-over-round per-query diff (r11's
# spurious "scd2_orders dropped_from_bench"). Entries outside this set —
# including future additions — ride _other_sum on the headline line; their
# per-query numbers always appear on the bench_full detail line.
PINNED_ITEMIZED = frozenset([
    "acorn_gamma_recall", "acorn_recall", "asof_last_order",
    "bm25_topk", "contamination_check", "cosine_neardup",
    "cosine_topk", "curated_corpus", "exactsubstr_cut",
    "funnel_steps", "generator_relations", "graph_postfilter_recall",
    "graph_recall", "halfvec_topk", "hamming_topk",
    "hybrid_rrf_topk", "incremental_dedup", "int8_topk",
    "ivf_recall", "ivfpq_recall", "maxsim_topk",
    "minhash_candidates", "mixture_sample", "mmr_topk",
    "nation_volume", "neardup_clusters", "ngram_jaccard",
    "pack_sequences", "pq_recall", "random_projection",
    "range_join_trailing_hour", "rbac_bm25_topk", "rbac_comb_role_topk",
    "rbac_dynamic_budget_topk", "rbac_dynamic_topk", "rbac_graph_recall",
    "rbac_logical_role_topk", "rbac_postfilter_topk", "rbac_prefilter_topk",
    "rbac_prefilter_zipf_topk", "rbac_qdtree_topk", "rbac_rls_topk",
    "rbac_topk_fast", "remove_boilerplate", "revenue_rollup",
    "scd2_orders", "sessionize_events", "sharing_tree_rbac_topk",
    "shipping_priority", "simhash_pairs", "sketches",
    "skew_salted_join", "small_quantity_revenue", "sparse_cosine_topk",
    "store_lifecycle", "streaming_hourly", "text_stats",
    "tfidf_top_terms", "tpch_deep", "tuning_curve",
    "vocab_bpe_build",
])


def _fit_final_line(final: dict, timings: dict) -> str:
    """Serialize the headline dict to ONE JSON line ≤ 1900 chars (the
    driver keeps a 2000-char tail; an oversized line parses as null — the
    BENCH_r04 failure). Fold order:

    1. full per-query map if it fits;
    2. the PINNED itemization set + _other_sum — a STABLE key set, so the
       driver's round-over-round per-query diff always compares the same
       queries (the pre-r12 slowest-N fold reshuffled the named set on any
       drift or added entry: r11's spurious scd2_orders "drop");
    3. last-resort slowest-N ladder, then headline-only (never expected —
       the pinned line measures ~1656 chars).
    """
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1900:
        keep = dict(
            sorted((k, round(v, 2)) for k, v in timings.items() if k in PINNED_ITEMIZED)
        )
        folded = [v for k, v in timings.items() if k not in PINNED_ITEMIZED]
        if folded:
            keep["_other_sum"] = round(sum(folded), 2)
        final["queries"] = keep
        line = json.dumps(final, separators=(",", ":"))
    if len(line) > 1900:
        ranked = sorted(timings.items(), key=lambda kv: -kv[1])
        for keep_n in (60, 55, 50, 45, 40, 35, 25, 15, 5, 0):
            keep = dict(sorted((k, round(v, 2)) for k, v in ranked[:keep_n]))
            keep["_other_sum"] = round(sum(v for _, v in ranked[keep_n:]), 2)
            final["queries"] = keep
            line = json.dumps(final, separators=(",", ":"))
            if len(line) <= 1900:
                break
        else:
            final["queries"] = {"_other_sum": round(sum(timings.values()), 2)}
            line = json.dumps(final, separators=(",", ":"))
    return line


def _mean_recall(df) -> float:
    from pyspark.sql import functions as F

    return round(df.agg(F.avg("recall")).first()[0], 4)


def _strategy_recalls(spark) -> dict[str, dict[str, float]]:
    """(latency, recall@10) per search strategy — run_search_experiment parity.

    prefilter/postfilter recall is measured against exact permitted ground
    truth; ivf/lsh/pq against the exact unfiltered top-k.
    """
    from vectorsearch_rbac_spark.operators import knn

    out: dict[str, dict[str, float]] = {}
    truth = entry.q_rbac_prefilter_topk(spark, SF_DIR)
    n_q = truth.select("query_id").distinct().count()

    def _row(r: float, sec: float) -> dict[str, float]:
        # qps over the batch: run_search_experiment reports it next to
        # recall so throughput and accuracy are read together
        return {"recall_at_10": r, "sec": round(sec, 3),
                "qps": round(n_q / sec, 1) if sec > 0 else 0.0}

    for name, fn in (
        ("prefilter", entry.q_rbac_prefilter_topk),
        ("postfilter", entry.q_rbac_postfilter_topk),
    ):
        # time the SEARCH alone (materialized via localCheckpoint); the
        # recall join/aggregation runs over the materialized result so
        # qps measures query throughput, not the evaluation harness
        t0 = time.time()
        pred = fn(spark, SF_DIR).localCheckpoint()
        sec = time.time() - t0
        out[name] = _row(_mean_recall(knn.recall_at_k(pred, truth)), sec)
    for name, fn in (
        ("ivf", entry.q_ivf_recall),
        ("lsh", entry.q_lsh_recall),
        ("pq", entry.q_pq_recall),
        ("ivfpq", entry.q_ivfpq_recall),
        ("graph", entry.q_graph_recall),
        ("graph_postfilter", entry.q_graph_postfilter_recall),
        ("rbac_graph", entry.q_rbac_graph_recall),
        ("acorn", entry.q_acorn_recall),
        ("acorn_gamma", entry.q_acorn_gamma_recall),
    ):
        # the q_*_recall entries fold search + truth-compare into one
        # frame; the truth side is cached per sf, so the per-query recall
        # rows' wall is still search-dominated — but charge the COMPARE
        # to sec honestly by materializing the full recall frame
        t0 = time.time()
        rec = fn(spark, SF_DIR).localCheckpoint()
        sec = time.time() - t0
        out[name] = _row(_mean_recall(rec), sec)
    return out


def _tuning_block(spark) -> dict:
    """Fitted search-parameter models (get_parameter.py parity): the
    piecewise recall model {k, beta}, the linear cost model {a, b} (rows
    scanned per query per nprobe), and the chosen knob for a 0.9 recall
    target — with the model-vs-measured MAE so the fit quality is visible
    next to the decision. The cost side reports BOTH fits the reference
    maintains: linear-in-the-knob (analysis_hnsw_qps.py) and
    a·knob + b·log(n) (analysis_hnsw_qps_logn.py), the latter fit over
    scan points measured at three corpus sizes."""
    from vectorsearch_rbac_spark.operators import ivf, knn, tuning

    t = entry._rbac(spark, SF_DIR)
    blocks = t["documentblocks"]
    nlists = max(4, min(16, blocks.count() // 125))
    C = ivf.kmeans_fit(blocks, nlists=nlists, max_iter=8)
    indexed = ivf.assign_centroids(blocks, C)
    truth = knn.knn_topk_fast(blocks, t["queries"], k=10)
    t0 = time.time()
    out = tuning.tune_ivf(indexed, t["queries"], C, truth, k=10, target_recall=0.9)
    from pyspark.sql import functions as F

    # log-n QPS fit (analysis_hnsw_qps_logn.py parity): scan-cost points
    # at three corpus sizes — dim-sized aggregates, no truth pass needed
    pts = []
    for mod in (1, 2, 4):
        sub = blocks.where(F.col("block_id") % mod == 0)
        n_sub = sub.count()
        for r in tuning.scan_cost_points(
            ivf.assign_centroids(sub, C), t["queries"], C
        ).collect():
            pts.append((r["nprobe"], r["avg_scanned"], n_sub))
    logn = tuning.fit_cost_model_logn(
        [p[0] for p in pts], [p[1] for p in pts], [p[2] for p in pts]
    )
    lin_multi = tuning.fit_cost_model([p[0] for p in pts], [p[1] for p in pts])

    balance = ivf.list_stats(indexed).agg(F.first("imbalance")).first()[0]
    return {
        "parameters": out["parameters"],
        "decision": out["decision"],
        "model_mae": out["validation"]["mae"],
        # same multi-n points, two functional forms side by side (the
        # reference maintains both) — MAE read together shows which shape
        # tracks this index's scan behavior
        "cost_fit_linear_mae": lin_multi["mae"],
        "cost_fit_logn": logn,
        "nlists": nlists,
        "list_imbalance": balance,
        "sec": round(time.time() - t0, 3),
    }


def _force(df) -> int:
    """Force full computation of EVERY output column in one job: a bare
    count() lets Catalyst prune computed columns and even eliminate left
    joins for projection-shaped plans (a dedup pipeline that emits one row
    per doc would time as a parquet row-count). Summing a hash over all
    columns closes that loophole; returns the row count from the same job."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31)))
    ).first()
    return r[0]


def _calibrate() -> float:
    """Fixed-work single-core spin (~0.5 s on an idle host): its wall time
    is a direct read of how contended this host is RIGHT NOW. Recorded
    before/between/after timing passes so any run self-reports its host
    state — two same-code runs that disagree on the warm total will also
    disagree here, turning 'was the host loaded?' from prose adjudication
    into data (r8/r9 both needed manual noise adjudication)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(8_000_000):
        x += i
    assert x == 31999996000000
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    spark = get_spark("bench")
    qs = entry.queries()
    timings: dict[str, float] = {}
    # Warm-up (untimed, standard benchmark practice): one trivial action for
    # JVM startup, then a tiny RBAC query at sf0.001 to JIT the codegen paths
    # every headline query shares (parquet reader, zip_with/aggregate
    # expressions, broadcast joins, window rank). Steady-state throughput is
    # what the timings measure.
    spark.range(1).count()
    qs["rbac_prefilter_topk"](spark, "/root/testdata/sf0.001").count()
    # Contention-robust timing (r10): INTERLEAVED round-robin passes —
    # pass 0 runs every query once ("cold": plan analysis + codegen JIT, a
    # fixed cost irrelevant at cluster scale), then 3 warm passes run the
    # whole list again in order (A,B,C,…,A,B,C,… instead of A,A,A,B,B,B);
    # the reported warm time is the PER-QUERY MIN across the 3 passes.
    # Interleaving decorrelates a transient host-load spike from any single
    # query (it would have to persist across the whole list's cycle time to
    # poison all 3 samples), and the min is the right estimator for the
    # engine's uncontended throughput. loadavg + a fixed-work calibration
    # spin are recorded around every pass so the run self-reports its host
    # state next to the numbers.
    fns = {name: (EXTRA.get(name) or qs.get(name)) for name in HEADLINE}
    calib = [_calibrate()]
    loads = [round(os.getloadavg()[0], 2)]
    cold: dict[str, float] = {}
    warm_runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    rows_n: dict[str, int] = {}
    for pass_i in range(4):
        for name in HEADLINE:
            t0 = time.time()
            df = fns[name](spark, SF_DIR)
            n = _force(df)
            el = time.time() - t0
            if pass_i == 0:
                cold[name] = round(el, 3)
                rows_n[name] = n
            else:
                warm_runs[name].append(el)
        calib.append(_calibrate())
        loads.append(round(os.getloadavg()[0], 2))
        print(f"# pass {pass_i} done: calib={calib[-1]}s load1={loads[-1]}", file=sys.stderr)
    lat: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        w = sorted(warm_runs[name])
        timings[name] = round(w[0], 3)
        # warm-run latency spread (run_search_experiment parity: the
        # reference reports latency distributions next to QPS). The cold
        # pass is EXCLUDED — with it, the max would just re-report the
        # plan-compile cost value_cold already carries. min/max of 3
        # interleaved warm samples — labeled as such, not percentiles.
        lat[name] = {"warm_min": round(w[0], 3), "warm_max": round(w[-1], 3)}
        print(f"# {name}: {rows_n[name]} rows in {timings[name]}s (cold {cold[name]}s)", file=sys.stderr)
    host = {"calib_sec": calib, "loadavg1": loads, "cpus": os.cpu_count()}
    print(f"# host: {host}", file=sys.stderr)
    # store_lifecycle is the biggest single bench line; time its sections
    # once (warm — the dirs/stream artifacts are already cached from the 3
    # registry runs) so member-level drift is visible round-over-round
    # instead of hiding inside one union number.
    sections: dict[str, float] = {}
    try:
        import __spark_entry__ as _E

        # the build phase (4 version commits, the availableNow streaming
        # insert, DV writes) runs EAGERLY inside the generator call — time
        # it as its own pseudo-section so a regression in the entry's
        # dominant write paths is visible, not just the read-back cost
        t0 = time.time()
        section_dfs = list(_E.store_lifecycle_sections(spark, SF_DIR))
        sections["_eager_build"] = round(time.time() - t0, 3)
        for sname, sdf in section_dfs:
            t0 = time.time()
            sdf.collect()
            sections[sname] = round(time.time() - t0, 3)
        print(f"# store_lifecycle sections: {sections}", file=sys.stderr)
    except Exception as exc:  # pragma: no cover - diagnostic only
        print(f"# store_lifecycle sections failed: {exc}", file=sys.stderr)
    recalls = _strategy_recalls(spark)
    for s, v in recalls.items():
        print(f"# recall {s}: {v['recall_at_10']} in {v['sec']}s", file=sys.stderr)
    tuning_info = _tuning_block(spark)
    print(f"# tuning: {tuning_info}", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full detail on its own stdout line (queries_cold, recall, tuning): the
    # driver keeps only the LAST line as the parsed result and a 2000-char
    # tail of everything — round 4's single fat line blew past that tail and
    # parsed as null, so the detail and the parsed line are now separate.
    print(
        json.dumps(
            {
                "detail": "bench_full",
                "host": host,
                "queries_cold": cold,
                "latency": lat,
                "store_lifecycle_sections": sections,
                "recall": recalls,
                "tuning": tuning_info,
            },
            separators=(",", ":"),
        )
    )
    final = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "value_cold": round(sum(cold.values()), 3),
        "value_r2_subset": round(sum(timings[k] for k in R2_KEYS if k in timings), 3),
        # aggregate latency profile (sums of per-query warm min/max over
        # the 2 warm runs); the per-query breakdown rides the detail line
        "latency": {
            "warm_min_total": round(sum(v["warm_min"] for v in lat.values()), 2),
            "warm_max_total": round(sum(v["warm_max"] for v in lat.values()), 2),
        },
        # host-state self-report: worst calibration spin (idle ≈ its min
        # across runs) + worst 1-min loadavg seen around the timing passes
        "host": {"calib_max": max(calib), "load1_max": max(loads)},
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf_val,
    }
    line = _fit_final_line(final, timings)
    # Tear Spark down BEFORE printing the final line: round 8's headline was
    # destroyed when a StateStore maintenance-thread WARN (a full Java stack
    # trace) printed AFTER the final JSON line and pushed it out of the
    # driver's 2000-char tail window. Order matters: (1) stop every streaming
    # query so no state-store maintenance thread survives, (2) silence log4j
    # entirely (FATAL) so JVM shutdown hooks can't log, (3) stop the session,
    # (4) give any in-flight JVM writes a moment to drain, (5) only THEN emit
    # the headline line — provably the last thing on the captured stream.
    try:
        for q in spark.streams.active:
            q.stop()
    except Exception as exc:  # pragma: no cover - teardown best-effort
        print(f"# stream stop failed: {exc}", file=sys.stderr)
    try:
        spark.sparkContext.setLogLevel("FATAL")
    except Exception as exc:  # pragma: no cover
        print(f"# setLogLevel failed: {exc}", file=sys.stderr)
    try:
        spark.stop()
    except Exception as exc:  # pragma: no cover
        print(f"# spark.stop failed: {exc}", file=sys.stderr)
    sys.stderr.flush()
    time.sleep(3.0)
    print(line, flush=True)


if __name__ == "__main__":
    main()
