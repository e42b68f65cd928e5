"""Run one workload of the RBAC search benchmark and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans, job groups and plan metrics on and prints the
per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
(``detail``) carries the host report, workload properties, input hash and
the fields that are not gated.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

ARMS = (
    "knn.knn_prefilter", "knn.knn_postfilter", "knn.knn_comb_role_partition",
    "knn.knn_qdtree", "dynamic.knn_dynamic", "graph_ann.acorn_search_indexed",
    "ivf.ivf_search", "strategy.adaptive_knn",
)
ARM_MEASURES = (
    ("build_ms", "ms"), ("build_jobs", "count"), ("plan_ms", "ms"), ("execute_ms", "ms"),
    ("execute_jobs", "count"), ("tasks", "count"), ("rows_scanned_per_result", "ratio"),
    ("shuffle_bytes", "bytes"), ("py_boundary_nodes", "count"),
)
WRITE_PATH = (
    ("dynamic.insert_blocks.build_ms", "ms"), ("dynamic.VersionedStore.commit_ms", "ms"),
    ("dynamic.VersionedStore.commit_jobs", "count"), ("dynamic.VersionedStore.delete_with_dv_ms", "ms"),
    ("dynamic.VersionedStore.read_current_ms", "ms"), ("dynamic.VersionedStore.compact_dvs_ms", "ms"),
    ("dynamic.write_amp", "ratio"), ("dynamic.dv_chain_len", "count"),
)
OTHER_LAYER = (
    ("hints.stat_cache_misses_per_batch", "count"), ("hints.stat_cache_entries", "count"),
    ("trace.overhead_pct", "%"),
    ("churn.update_p50_ms", "ms"), ("churn.update_tail_ms", "ms"), ("churn.space_amp", "ratio"),
    ("bench.error_rate", "ratio"),
)
# spark.sql.files.maxPartitionBytes as the program's session sets it
SPLIT_BYTES = 128 << 20

END_TO_END = (
    ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"), ("qps", "queries/s"),
    ("recall_at_10", "ratio"), ("setup_s", "s"),
)


def per_layer_units(workload: str | None = None) -> dict[str, str]:
    """Per-layer metric names and units: every arm of the listed workloads
    (plus ``workload``'s own arms when it is not listed)."""
    from perfbench.workloads import LISTED, SETUP_BUILDS, WORKLOADS

    names = set(LISTED) | ({workload} if workload else set())
    arms = [a for a in ARMS if any(a in WORKLOADS[w].arms for w in names)]
    units = {f"{a}.{m}": u for a in arms for m, u in ARM_MEASURES}
    units.update(WRITE_PATH)
    units.update({n: "s" for n in SETUP_BUILDS})
    units.update(OTHER_LAYER)
    return units


def tail(samples: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile)``: the 11th-largest sample and the
    percentile it stands at. With ten samples or fewer no percentile
    qualifies; the maximum is returned with percentile 100.
    """
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100
    return s[n - 11], (100 * (n - 10)) // n


def timed_steps(wl, seconds: float) -> int:
    """Batches in the timed loop: a fixed number of closed-loop cycles
    (every arm once, or one churn step), sized from ``seconds`` at the
    workload's nominal cycle time so every run measures the same work."""
    cycles = max(1, round(seconds / wl.cycle_s))
    return cycles * (1 if wl.churn_initial_frac else len(wl.arms))


def _env(work: str) -> None:
    """Keep Spark's scratch files, temp files and core count inside the run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*,
    # both from spark-submit's launcher JVM and from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop Spark, its JVM and every process under this one; wait for each."""
    from perfbench import host

    kids = host.descendants(os.getpid())
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    if gw.proc is not None:
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in kids:
        while host.alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if host.alive(pid):
            os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import vectorsearch_rbac_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)

    try:
        return _run(args, wl, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, out_dir: str) -> int:
    """Generate, set up, measure, check and report one run."""
    from perfbench import gen, host
    from perfbench.trace import Tracer, self_times
    from perfbench.workloads import Bench

    # ---- inputs (the benchmark's own work: outside setup_s)
    t_gen = time.perf_counter()
    n_batches = wl.warmup_batches + timed_steps(wl, args.seconds)
    inst = gen.generate(dataclasses.replace(wl.spec, n_batches=n_batches), args.seed)
    gen.write_parquet(inst, os.path.join(work, "inputs"))
    digest = gen.input_hash(os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t_gen

    # ---- set-up: session, program-side builds (median of passes), warm-up
    t_setup = time.perf_counter()
    from vectorsearch_rbac_spark.sources import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_setup
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        bench = Bench(spark, wl, inst, work, tracer, args.seed)
        pass_s = []
        for rep in range(wl.setup_reps):
            t0 = time.perf_counter()
            bench.setup_pass(rep)
            pass_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warm = [bench.run_batch(b, wl.arms[b % len(wl.arms)]) for b in range(wl.warmup_batches)]
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(pass_s) + warmup_s

        # ---- timed closed loop
        calib_before, load_before = host.calibration_ms(), host.loadavg()
        # The traced run traces every other cycle (for churn: every other
        # insert+delete pair) to state its own overhead.
        records = []
        t_loop = time.perf_counter()
        for step in range(timed_steps(wl, args.seconds)):
            b = wl.warmup_batches + step
            traced_unit = step // 2 if wl.churn_initial_frac else step // len(wl.arms)
            tracer.enabled = bool(args.trace) and traced_unit % 2 == 0
            if wl.churn_initial_frac:
                bench.mutate(step)
            rec = bench.run_batch(b, wl.arms[step % len(wl.arms)])
            rec.counters["traced"] = tracer.enabled
            records.append(rec)
        loop_s = time.perf_counter() - t_loop
        tracer.enabled = bool(args.trace)
        calib_after, load_after = host.calibration_ms(), host.loadavg()
        space_amp = bench.space_amp() if bench.vs is not None else None
        rss_mb = host.vm_hwm_mb(os.getpid()) + host.vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        entries = len(bench.hints._STAT_CACHE)
    finally:
        _stop(spark)

    # ---- correctness gate (after the loop, against the recorded state)
    checked = [(rec, *bench.check(rec)) for rec in warm + records]
    problems = [p for _, ps, _ in checked for p in ps]
    failed = sum(1 for _, ps, _ in checked if ps)
    timed_recall = [x for rec, _, rs in checked[len(warm):] for x in rs]
    attempted = len(warm) + len(records) + len(bench.updates)
    problems += [f"mutation step {u['step']}: {u['error']}" for u in bench.updates if u.get("error")]
    failed += sum(1 for u in bench.updates if u.get("error"))
    for p in problems[:50]:
        print(f"FAIL {p}", file=sys.stderr)

    # a traced run of a one-cycle workload has no untraced batch
    lat_ms = [r.latency_s * 1e3 for r in records if not r.counters.get("traced")] or [
        r.latency_s * 1e3 for r in records
    ]
    tail_v, tail_p = tail(lat_ms)
    answered = sum(len(r.qids) for r in records if r.error is None)
    e2e = {
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_tail_ms": tail_v,
        "qps": answered / loop_s,
        "recall_at_10": statistics.fmean(timed_recall) if timed_recall else 0.0,
        "setup_s": setup_s,
    }
    upd_ms = [v * 1e3 for u in bench.updates for v in u["latency_s"].values()]
    detail = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_sha256": digest,
        "properties": gen.properties(inst, SPLIT_BYTES),
        "host": {
            "nproc": os.cpu_count(), "spark_master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            "loadavg_before": load_before, "loadavg_after": load_after,
            "calibration_ms_before": round(calib_before, 3), "calibration_ms_after": round(calib_after, 3),
        },
        "latency_n": len(lat_ms), "latency_tail_percentile": tail_p,
        "timed_batches": len(records), "loop_s": round(loop_s, 3),
        "error_rate": failed / attempted,
        # not gated: it varies by more than a tenth from run to run
        "peak_rss_mb": round(rss_mb, 1),
        "gen_s": round(gen_s, 3), "session_s": round(session_s, 3),
        "setup_pass_s": [round(x, 3) for x in pass_s], "warmup_s": round(warmup_s, 3),
        "process_s": round(time.perf_counter() - T_PROCESS, 3),
        "recall_by_arm": _recall_by_arm(checked[len(warm):]),
        "latency_ms_by_arm": {
            a: round(statistics.median(r.latency_s * 1e3 for r in records if r.arm == a), 1) for a in wl.arms
        },
    }
    if bench.vs is not None:
        ut, up = tail(upd_ms)
        detail.update({
            "update_p50_ms": statistics.median(upd_ms),
            "update_tail_ms": ut, "update_tail_percentile": up, "update_n": len(upd_ms),
            "space_amp": space_amp,
        })
    print("detail " + json.dumps(detail))

    units = dict(END_TO_END)
    if args.trace:
        layer = layer_metrics(bench, records, entries, detail, failed / attempted)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        print_layer_table(tracer, self_times)
        lu = per_layer_units(args.workload)
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in lu.items()}
    else:
        for n, v in e2e.items():
            print(f"{n} = {v:.4f} {units[n]}")
        metrics = {n: {"value": v, "unit": units[n]} for n, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _recall_by_arm(checked) -> dict:
    out: dict[str, list] = {}
    for rec, _, recalls in checked:
        out.setdefault(rec.arm, []).extend(recalls)
    return {a: round(statistics.fmean(v), 4) for a, v in out.items() if v}


def layer_metrics(bench, records, entries, detail, error_rate) -> dict:
    """Per-layer metrics from the traced batches of the timed loop."""
    from perfbench.workloads import SETUP_BUILDS

    med = statistics.median
    traced = [r for r in records if r.counters.get("traced") and r.error is None]
    out: dict[str, float] = {}
    for arm in {r.arm for r in traced}:
        rs = [r for r in traced if r.arm == arm]
        out[f"{arm}.build_ms"] = med(r.phase_s["build"] * 1e3 for r in rs)
        out[f"{arm}.plan_ms"] = med(r.phase_s["plan"] * 1e3 for r in rs)
        out[f"{arm}.execute_ms"] = med(r.phase_s["execute"] * 1e3 for r in rs)
        for c in ("build_jobs", "execute_jobs", "tasks", "rows_scanned_per_result",
                  "shuffle_bytes", "py_boundary_nodes"):
            out[f"{arm}.{c}"] = med(r.counters[c] for r in rs)
    for name in SETUP_BUILDS:
        if bench.build_s[name]:
            out[name] = med(bench.build_s[name])
    spans = bench.tracer.spans
    for span_name, metric, field in (
        ("dynamic.insert_blocks.build", "dynamic.insert_blocks.build_ms", None),
        ("dynamic.VersionedStore.commit", "dynamic.VersionedStore.commit_ms", None),
        ("dynamic.VersionedStore.commit", "dynamic.VersionedStore.commit_jobs", "jobs"),
        ("dynamic.VersionedStore.delete_with_dv", "dynamic.VersionedStore.delete_with_dv_ms", None),
        ("dynamic.VersionedStore.read_current", "dynamic.VersionedStore.read_current_ms", None),
        ("dynamic.VersionedStore.compact_dvs", "dynamic.VersionedStore.compact_dvs_ms", None),
    ):
        vals = [(s.attrs[field] if field else (s.end - s.start) * 1e3)
                for s in spans if s.name == span_name]
        if vals:
            out[metric] = med(vals)
    if bench.updates:
        rows = sum(u["rows"] for u in bench.updates)
        out["dynamic.write_amp"] = sum(u["bytes_written"] for u in bench.updates) / max(1, bench.raw_bytes(rows))
        out["dynamic.dv_chain_len"] = statistics.fmean(r.counters["dv_chain_len"] for r in records)
        out["churn.update_p50_ms"] = detail["update_p50_ms"]
        out["churn.update_tail_ms"] = detail["update_tail_ms"]
        out["churn.space_amp"] = detail["space_amp"]
    if records:
        out["hints.stat_cache_misses_per_batch"] = statistics.fmean(r.counters["stat_cache_misses"] for r in records)
    out["hints.stat_cache_entries"] = entries
    on = [r.latency_s for r in records if r.counters.get("traced")]
    off = [r.latency_s for r in records if not r.counters.get("traced")]
    if on and off:
        out["trace.overhead_pct"] = 100.0 * (med(on) / med(off) - 1.0)
    out["bench.error_rate"] = error_rate
    return out


def print_layer_table(tracer, self_times) -> None:
    """Per-span-name totals: calls, wall, self time, jobs and tasks."""
    agg: dict[str, list] = {}
    for s, st in zip(tracer.spans, self_times(tracer.spans)):
        a = agg.setdefault(s.name, [0, 0.0, 0.0, 0, 0])
        a[0] += 1
        a[1] += (s.end - s.start) * 1e3
        a[2] += st * 1e3
        a[3] += s.attrs.get("jobs", 0)
        a[4] += s.attrs.get("tasks", 0)
    print(f"{'span':58s} {'calls':>5s} {'wall_ms':>10s} {'self_ms':>10s} {'jobs':>6s} {'tasks':>7s}")
    for name, (c, w, st, j, t) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        print(f"{name:58s} {c:5d} {w:10.1f} {st:10.1f} {j:6d} {t:7d}")


if __name__ == "__main__":
    sys.exit(main())
