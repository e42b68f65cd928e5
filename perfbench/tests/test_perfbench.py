"""The benchmark's own tests: metric names, generator determinism, oracle.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, run  # noqa: E402
from perfbench.workloads import LISTED, WORKLOADS  # noqa: E402

TINY = gen.Spec(n_blocks=400, n_batches=3, batch_size=4, n_users=40, n_roles=10, zipf_s=1.1)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_output_names_every_benchmark_metric_with_its_unit():
    spec = _benchmark_json()
    e2e = dict(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == e2e
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(LISTED)
    assert all(WORKLOADS[w["name"]].why == w["why"] for w in spec["workloads"])


def test_tail_is_the_highest_percentile_with_ten_beyond():
    samples = list(range(1, 41))  # 40 samples
    value, pct = run.tail(samples)
    assert sum(s > value for s in samples) == 10
    assert pct == 75
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_generator_is_deterministic(tmp_path):
    a = gen.generate(TINY, 7)
    gen.write_parquet(a, str(tmp_path / "a"))
    b = gen.generate(TINY, 7)
    gen.write_parquet(b, str(tmp_path / "b"))
    c = gen.generate(TINY, 8)
    gen.write_parquet(c, str(tmp_path / "c"))
    assert gen.input_hash(str(tmp_path / "a")) == gen.input_hash(str(tmp_path / "b"))
    assert gen.input_hash(str(tmp_path / "a")) != gen.input_hash(str(tmp_path / "c"))
    props = gen.properties(a, 128 << 20)
    assert 0 < props["selectivity_min"] <= props["selectivity_median"] <= props["selectivity_max"] <= 1


def test_oracle_breaks_ties_by_block_id():
    vecs = np.array([[0.0, 1.0], [1.0, 0.0], [0.0, 2.0], [0.0, -1.0]])
    allowed = np.array([True, True, True, False])
    t = oracle.exact_topk(vecs, (vecs ** 2).sum(1), allowed, np.zeros(2), 2)
    assert t.ids.tolist() == [0, 1] and t.dists.tolist() == [1.0, 1.0] and t.n_permitted == 3


@pytest.fixture(scope="module")
def tiny_bench(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from vectorsearch_rbac_spark.sources import get_spark

    from perfbench.trace import Tracer
    from perfbench.workloads import Bench, Workload

    work = str(tmp_path_factory.mktemp("perfbench"))
    inst = gen.generate(TINY, 3)
    gen.write_parquet(inst, os.path.join(work, "inputs"))
    spark = get_spark("perfbench-tests")
    wl = Workload(name="tiny", spec=TINY, arms=("knn.knn_prefilter",), why="test", warmup_batches=0)
    return Bench(spark, wl, inst, work, Tracer(spark, enabled=True), seed=3)


def test_oracle_matches_knn_prefilter_exactly(tiny_bench):
    for b in range(TINY.n_batches):
        rec = tiny_bench.run_batch(b, "knn.knn_prefilter")
        problems, recalls = tiny_bench.check(rec)
        assert rec.error is None
        assert problems == []
        assert recalls and all(r == 1.0 for r in recalls)
        assert rec.counters["execute_jobs"] >= 1 and rec.counters["py_boundary_nodes"] >= 1


def test_leaked_row_is_a_failure(tiny_bench):
    rec = tiny_bench.run_batch(0, "knn.knn_prefilter")
    qid, user = int(rec.qids[0]), int(rec.users[0])
    forbidden = np.flatnonzero(~tiny_bench.inst.user_block_mask(user))
    assert forbidden.size, "tiny instance must have a block this user may not see"
    leaked = int(forbidden[0])
    i = next(i for i, r in enumerate(rec.rows) if r[0] == qid)
    rec.rows[i] = (qid, leaked, rec.rows[i][2])
    problems, _ = tiny_bench.check(rec)
    assert any("leak" in p for p in problems)
