"""The three workloads: set-up builds, search arms and the timed loops.

Every arm calls the package's public functions on DataFrames read from the
generated parquet, so the program sees only the generated inputs. A batch
is one closed-loop request: it is sent only after the previous one has
returned, and its latency covers build (the Python call that returns the
DataFrame, with the eager jobs it fires), plan (forcing the executed plan)
and execute (``collect()``).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen, oracle
from .trace import Tracer, plan_metrics

K = 10

QUERY_SCHEMA = "query_id long, user_id long, query_vector array<double>"
QROLE_SCHEMA = "query_id long, role_id int"
BLOCK_SCHEMA = "block_id long, document_id long, vector array<double>"
ID_SCHEMA = "block_id long"


@dataclass(frozen=True)
class Workload:
    name: str
    spec: gen.Spec
    arms: tuple[str, ...]
    why: str
    warmup_batches: int          # leading batches reserved for warm-up
    # nominal seconds of one cycle (every arm once, or one churn step) on a
    # quiet 4-core host; turns --seconds into a fixed cycle count
    cycle_s: float = 10.0
    setup_reps: int = 3
    churn_initial_frac: float = 0.0
    churn_slice: int = 0
    compact_every: int = 0


WORKLOADS = {
    "interactive": Workload(
        name="interactive",
        spec=gen.Spec(n_blocks=5000, batch_size=8, zipf_s=1.1),
        # knn_dynamic runs in churn and postfilter in bulk_scan (and inside
        # the adaptive router here); knn_rls is left out because with
        # impl="numpy" it runs the prefilter mask kernel unchanged
        arms=(
            "knn.knn_prefilter", "knn.knn_comb_role_partition", "knn.knn_qdtree",
            "graph_ann.acorn_search_indexed", "strategy.adaptive_knn", "ivf.ivf_search",
        ),
        why="many small fresh batches over a small corpus: driver and eager-job work dominates",
        warmup_batches=6,
        cycle_s=10.0,
        setup_reps=2,
    ),
    "bulk_scan": Workload(
        name="bulk_scan",
        spec=gen.Spec(n_blocks=200000, batch_size=64),
        arms=("knn.knn_prefilter", "knn.knn_postfilter", "ivf.ivf_search"),
        why="few large batches over a large corpus: the scan kernels dominate",
        warmup_batches=3,
        cycle_s=24.0,
        setup_reps=2,
    ),
    "churn": Workload(
        name="churn",
        spec=gen.Spec(n_blocks=20000, batch_size=8, zipf_s=1.1),
        arms=("dynamic.knn_dynamic",),
        why="inserts, deletion vectors and compaction beside reads on the versioned comb-role store",
        warmup_batches=2,
        cycle_s=4.0,
        churn_initial_frac=0.8,
        churn_slice=200,
        compact_every=4,
    ),
}

# The workloads BENCHMARK.json lists. A check of the benchmark runs each
# listed workload 22 times (plus 4 runs) within 3420 s, which three Spark
# workloads of this size do not fit; bulk_scan runs by hand with the same
# command.
LISTED = ("interactive", "churn")

# Exact arms must equal the oracle up to ties at the cut; the others are
# held to the no-leak check and scored by recall.
EXACT_ARMS = frozenset({
    "knn.knn_prefilter", "knn.knn_comb_role_partition", "knn.knn_qdtree", "dynamic.knn_dynamic",
})

SETUP_BUILDS = (
    "partitioning.qdtree_assignment_s", "graph_ann.build_acorn_graph_s",
    "ivf.kmeans_fit_s", "ivf.assign_centroids_s", "dynamic.build_store_s",
)

IVF_NLISTS = 16
IVF_NPROBE = 4
IVF_EXPANSION = 4
ACORN_M, ACORN_EF = 8, 48


def _describe(e: Exception) -> str:
    first = str(e).splitlines()[0][:300] if str(e) else ""
    return f"{type(e).__name__}: {first}"


@dataclass
class BatchRecord:
    batch: int
    arm: str
    latency_s: float
    rows: list
    qids: np.ndarray
    users: np.ndarray
    vecs: np.ndarray
    live: np.ndarray | None = None   # churn: live-block mask after the mutation
    phase_s: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    error: str | None = None


class Bench:
    """One workload in one process: inputs, artifacts and records."""

    def __init__(self, spark, wl: Workload, inst: gen.Instance, work: str, tracer: Tracer, seed: int):
        from vectorsearch_rbac_spark.operators import hints

        self.spark, self.wl, self.inst, self.work, self.tracer = spark, wl, inst, work, tracer
        self.hints = hints
        p = inst.paths
        self.blocks = spark.read.schema(BLOCK_SCHEMA).parquet(p["blocks"])
        self.pa = spark.read.schema("role_id int, document_id long").parquet(p["permission_assignment"])
        self.user_roles = spark.read.schema("user_id long, role_id int").parquet(p["user_roles"])
        self.art: dict = {}
        self.build_s: dict[str, list[float]] = {n: [] for n in SETUP_BUILDS}
        self.updates: list[dict] = []
        self.vs = None
        n = inst.vectors.shape[0]
        self.live = np.ones(n, dtype=bool)
        if wl.churn_initial_frac:
            self.n_initial = int(n * wl.churn_initial_frac)
            self.live[self.n_initial:] = False
            self.next_insert = self.n_initial
            self.churn_rng = np.random.default_rng([seed, 7])
        self.sq_norms = (inst.vectors ** 2).sum(axis=1)

    # ------------------------------------------------------------ set-up
    def _timed_build(self, name: str, fn):
        with self.tracer.span(name, jobs=True) as s:
            out = fn()
        self.build_s[name].append(s.end - s.start)
        return out

    def setup_pass(self, rep: int) -> None:
        """Build every program-side artifact this workload searches."""
        from vectorsearch_rbac_spark.operators import dynamic, graph_ann, ivf, partitioning

        arms = self.wl.arms
        if "knn.knn_qdtree" in arms:
            self.art["qdtree"] = self._timed_build(
                "partitioning.qdtree_assignment_s",
                lambda: partitioning.qdtree_assignment(self.blocks, self.pa, max_leaf_size=256, max_depth=2)
                .localCheckpoint(),
            )
        if "graph_ann.acorn_search_indexed" in arms:
            self.art["acorn"] = self._timed_build(
                "graph_ann.build_acorn_graph_s",
                lambda: graph_ann.build_acorn_graph(self.blocks, m=ACORN_M, gamma=1, build_method="exact")
                .localCheckpoint(),
            )
        if "ivf.ivf_search" in arms:
            C = self._timed_build(
                "ivf.kmeans_fit_s", lambda: ivf.kmeans_fit(self.blocks, nlists=IVF_NLISTS, max_iter=8)
            )
            self.art["ivf_C"] = C
            self.art["ivf"] = self._timed_build(
                "ivf.assign_centroids_s", lambda: ivf.assign_centroids(self.blocks, C).localCheckpoint()
            )
        if self.wl.churn_initial_frac:
            base = os.path.join(self.work, f"store{rep}")
            shutil.rmtree(base, ignore_errors=True)
            initial = self.blocks.where(f"block_id < {self.n_initial}")

            def build():
                vs = dynamic.VersionedStore(base, self.spark)
                vs.commit(dynamic.build_store(initial, self.pa))
                return vs

            self.vs = self._timed_build("dynamic.build_store_s", build)
            self.store_dir = base

    # ------------------------------------------------------------- arms
    def _arm_df(self, arm: str, q, qr):
        from vectorsearch_rbac_spark.operators import dynamic, graph_ann, ivf, knn
        from vectorsearch_rbac_spark.plans.strategy import adaptive_knn

        b, pa = self.blocks, self.pa
        if arm == "knn.knn_prefilter":
            return knn.knn_prefilter(b, q, qr, pa, k=K, impl="numpy")
        if arm == "knn.knn_postfilter":
            return knn.knn_postfilter(b, q, qr, pa, k=K, expansion=4, impl="numpy")
        if arm == "knn.knn_comb_role_partition":
            return knn.knn_comb_role_partition(b, q, qr, pa, k=K, impl="numpy")
        if arm == "knn.knn_qdtree":
            return knn.knn_qdtree(self.art["qdtree"], q, qr, pa, k=K, impl="numpy")
        if arm == "dynamic.knn_dynamic":
            with self.tracer.span("dynamic.VersionedStore.read_current", jobs=True):
                store = self.vs.read_current()
            return dynamic.knn_dynamic(store, q, qr, k=K)
        if arm == "graph_ann.acorn_search_indexed":
            return graph_ann.acorn_search_indexed(
                b, self.art["acorn"], q, qr, k=K, m=ACORN_M, ef=ACORN_EF,
                permissions=pa, build_method="exact", stale="error",
            )
        if arm == "strategy.adaptive_knn":
            return adaptive_knn(b, q, qr, pa, self.user_roles, k=K, n_corpus=int(self.inst.vectors.shape[0]))
        if arm == "ivf.ivf_search":
            # ivf_search has no permission input, so the serving path is
            # IVF candidates (k·expansion) filtered to the user's documents
            # and cut to k — postfilter over the IVF index.
            from pyspark.sql import functions as F

            cand = ivf.ivf_search(self.art["ivf"], q, self.art["ivf_C"], k=K * IVF_EXPANSION, nprobe=IVF_NPROBE)
            qdocs = F.broadcast(qr).join(pa, "role_id").select("query_id", "document_id").distinct()
            return knn.topk_per_query(cand.drop("rank").join(qdocs, ["query_id", "document_id"]), K)
        raise KeyError(arm)

    def read_batch(self, b: int):
        p = self.inst.paths
        q = self.spark.read.schema(QUERY_SCHEMA).parquet(gen.batch_path(p["queries"], b))
        qr = self.spark.read.schema(QROLE_SCHEMA).parquet(gen.batch_path(p["query_roles"], b))
        return q, qr

    def run_batch(self, b: int, arm: str) -> BatchRecord:
        """One closed-loop search request: build, plan, execute."""
        q, qr = self.read_batch(b)
        meta = self.inst.batches[b]
        rec = BatchRecord(b, arm, 0.0, [], meta["qids"], meta["users"], meta["vecs"])
        cache0 = len(self.hints._STAT_CACHE)
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(arm, batch=b):
                with tr.span(f"{arm}.build", batch=b, jobs=True) as s_b:
                    df = self._arm_df(arm, q, qr)
                with tr.span(f"{arm}.plan", batch=b, jobs=True) as s_p:
                    df._jdf.queryExecution().executedPlan()
                with tr.span(f"{arm}.execute", batch=b, jobs=True) as s_e:
                    rows = df.collect()
            rec.latency_s = time.perf_counter() - t0
            rec.rows = [(int(r["query_id"]), int(r["block_id"]), float(r["distance"])) for r in rows]
            rec.phase_s = {"build": s_b.end - s_b.start, "plan": s_p.end - s_p.start,
                           "execute": s_e.end - s_e.start}
            if tr.enabled:
                pm = plan_metrics(df._jdf)
                rec.counters = {
                    "build_jobs": s_b.attrs["jobs"], "plan_jobs": s_p.attrs["jobs"],
                    "execute_jobs": s_e.attrs["jobs"],
                    "tasks": s_b.attrs["tasks"] + s_p.attrs["tasks"] + s_e.attrs["tasks"],
                    "rows_scanned_per_result": pm["scan_rows"] / max(1, len(rows)),
                    "shuffle_bytes": pm["shuffle_bytes"],
                    "py_boundary_nodes": pm["py_boundary_nodes"],
                }
        except Exception as e:  # a failed request is counted, never retried
            rec.latency_s = time.perf_counter() - t0
            rec.error = _describe(e)
        rec.counters["stat_cache_misses"] = len(self.hints._STAT_CACHE) - cache0
        if self.vs is not None:
            rec.live = self.live.copy()
            rec.counters["dv_chain_len"] = self._dv_files(self.vs.latest_version)
        return rec

    # ------------------------------------------------------------ churn
    def _dv_files(self, version: int) -> int:
        d = os.path.join(self.store_dir, "dv", f"v={version}")
        return len(os.listdir(d)) if os.path.isdir(d) else 0

    def _files(self) -> dict[str, int]:
        out = {}
        for dirpath, _, names in os.walk(self.store_dir):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
        return out

    def raw_bytes(self, n_rows: int) -> int:
        """Raw size of ``n_rows`` blocks: two int64 ids plus the vector."""
        return n_rows * (16 + 8 * self.inst.vectors.shape[1])

    def mutate(self, step: int) -> None:
        """Apply one committed mutation; the live mask tracks the truth."""
        from vectorsearch_rbac_spark.operators import dynamic

        tr, vs, wl = self.tracer, self.vs, self.wl
        kind = "insert" if step % 2 == 0 and self.next_insert < self.live.size else "delete"
        if kind == "delete":
            pool = np.flatnonzero(self.live)
            ids = np.sort(self.churn_rng.choice(pool, size=min(wl.churn_slice, pool.size - K), replace=False))
            path = os.path.join(self.work, "deletes", f"s{step:05d}.parquet")
            gen.write_ids(ids, path)
        before = self._files()
        lat, n_rows, error = {}, 0, None
        t0 = time.perf_counter()
        try:
            if kind == "insert":
                lo, hi = self.next_insert, min(self.live.size, self.next_insert + wl.churn_slice)
                new = self.blocks.where(f"block_id >= {lo} AND block_id < {hi}")
                with tr.span("dynamic.insert_blocks.build", batch=step, jobs=True):
                    store = dynamic.insert_blocks(vs.read_current(), new, self.pa)
                with tr.span("dynamic.VersionedStore.commit", batch=step, jobs=True):
                    vs.commit(store)
                self.live[lo:hi] = True
                self.next_insert = hi
                n_rows = hi - lo
            else:
                dv = self.spark.read.schema(ID_SCHEMA).parquet(path)
                with tr.span("dynamic.VersionedStore.delete_with_dv", batch=step, jobs=True):
                    vs.delete_with_dv(dv)
                self.live[ids] = False
                n_rows = ids.size
            lat[kind] = time.perf_counter() - t0
            # after the first delete of every compact_every steps, so the
            # traced run (which traces every other insert+delete pair)
            # sees each compaction
            if wl.compact_every and step % wl.compact_every == 1:
                t1 = time.perf_counter()
                with tr.span("dynamic.VersionedStore.compact_dvs", batch=step, jobs=True):
                    vs.compact_dvs()
                with tr.span("dynamic.VersionedStore.vacuum", batch=step, jobs=True):
                    vs.vacuum(keep_last=2)
                lat["compact"] = time.perf_counter() - t1
        except Exception as e:  # a failed mutation is counted, never retried
            error = _describe(e)
        after = self._files()
        written = sum(sz for p, sz in after.items() if before.get(p) != sz)
        self.updates.append({"step": step, "latency_s": lat, "rows": n_rows, "bytes_written": written,
                             "error": error})

    def space_amp(self) -> float:
        return sum(self._files().values()) / max(1, self.raw_bytes(int(self.live.sum())))

    # ----------------------------------------------------------- checks
    def check(self, rec: BatchRecord) -> tuple[list[str], list[float]]:
        """Oracle and no-leak gate for one batch; returns (problems, recalls)."""
        if rec.error:
            return [f"batch {rec.batch} {rec.arm}: {rec.error}"], []
        exact = rec.arm in EXACT_ARMS
        by_q: dict[int, list] = {int(q): [] for q in rec.qids}
        problems, recalls = [], []
        for qid, bid, dist in rec.rows:
            if qid not in by_q:
                problems.append(f"batch {rec.batch} {rec.arm}: unknown query_id {qid}")
                continue
            by_q[qid].append((bid, dist))
        for qid, user, vec in zip(rec.qids, rec.users, rec.vecs):
            allowed = self.inst.user_block_mask(int(user))
            if rec.live is not None:
                allowed = allowed & rec.live
            truth = oracle.exact_topk(self.inst.vectors, self.sq_norms, allowed, vec, K)
            probs, r = oracle.check_result(by_q[int(qid)], truth, allowed, self.inst.vectors, vec, K, exact)
            problems += [f"batch {rec.batch} {rec.arm} query {int(qid)}: {p}" for p in probs]
            recalls.append(r)
        return problems, recalls
