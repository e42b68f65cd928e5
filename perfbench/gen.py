"""Seeded input generator: corpus, RBAC tables and query batches.

Everything the program sees is generated here with numpy from one seed and
written as parquet. The same seed gives byte-identical files, and
:func:`input_hash` digests them so a run can state exactly what it measured.

Shapes (all ids are int64 unless noted):

- ``blocks``: ``block_id, document_id, vector array<double>``. Vectors are
  clustered Gaussians, so nearest neighbours are local and ANN recall is
  not trivially 1.
- ``permission_assignment``: ``role_id int, document_id``. Each role grants
  a log-uniform share of the documents, so per-user selectivity spans
  roughly 1% to 50%.
- ``user_roles``: ``user_id, role_id int``; every user holds one to three
  roles.
- ``queries/bNNNNN.parquet`` and ``query_roles/bNNNNN.parquet``: one file
  pair per batch of fresh queries (``query_id, user_id, query_vector`` and
  ``query_id, role_id int``).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Spec:
    """Size of one generated instance."""

    n_blocks: int
    dim: int = 64
    blocks_per_doc: int = 4
    n_clusters: int = 32
    cluster_sigma: float = 0.35
    n_roles: int = 50
    n_users: int = 500
    role_frac_min: float = 0.01
    role_frac_max: float = 0.30
    n_batches: int = 64
    batch_size: int = 8
    zipf_s: float = 0.0  # 0 → uniform users; > 0 → Zipf(s) over a user ranking


@dataclass
class Instance:
    """Generated arrays (kept in memory for the oracle) plus file paths."""

    spec: Spec
    vectors: np.ndarray          # (n_blocks, dim) float64
    doc_of_block: np.ndarray     # (n_blocks,) int64
    role_docs: list[np.ndarray]  # role_id -> sorted document ids
    user_roles: list[np.ndarray]  # user_id -> sorted role ids
    batches: list[dict] = field(default_factory=list)  # per batch: qids, users, vecs
    paths: dict[str, str] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return int(self.doc_of_block.max()) + 1

    def permitted_docs(self, roles) -> np.ndarray:
        """Boolean doc mask of the union of ``roles``' documents."""
        mask = np.zeros(self.n_docs, dtype=bool)
        for r in roles:
            mask[self.role_docs[int(r)]] = True
        return mask

    def user_block_mask(self, user: int) -> np.ndarray:
        return self.permitted_docs(self.user_roles[user])[self.doc_of_block]


def generate(spec: Spec, seed: int) -> Instance:
    """Draw one instance. Pure function of ``(spec, seed)``."""
    rng = np.random.default_rng(seed)
    n_docs = max(1, spec.n_blocks // spec.blocks_per_doc)
    centers = rng.normal(0.0, 1.0, size=(spec.n_clusters, spec.dim))
    cl = rng.integers(0, spec.n_clusters, size=spec.n_blocks)
    vectors = np.round(
        centers[cl] + rng.normal(0.0, spec.cluster_sigma, size=(spec.n_blocks, spec.dim)), 5
    )
    doc_of_block = (np.arange(spec.n_blocks, dtype=np.int64) % n_docs).astype(np.int64)
    lo, hi = np.log(spec.role_frac_min), np.log(spec.role_frac_max)
    fracs = np.exp(rng.uniform(lo, hi, size=spec.n_roles))
    role_docs = [
        np.sort(rng.choice(n_docs, size=max(1, int(round(f * n_docs))), replace=False)).astype(np.int64)
        for f in fracs
    ]
    n_user_roles = rng.choice([1, 2, 3], size=spec.n_users, p=[0.5, 0.35, 0.15])
    user_roles = [
        np.sort(rng.choice(spec.n_roles, size=int(c), replace=False)).astype(np.int32)
        for c in n_user_roles
    ]
    inst = Instance(spec, vectors, doc_of_block, role_docs, user_roles)

    if spec.zipf_s > 0:
        ranking = rng.permutation(spec.n_users)
        w = 1.0 / np.arange(1, spec.n_users + 1) ** spec.zipf_s
        p_user = np.empty(spec.n_users)
        p_user[ranking] = w / w.sum()
    else:
        p_user = None
    for b in range(spec.n_batches):
        users = rng.choice(spec.n_users, size=spec.batch_size, p=p_user).astype(np.int64)
        qcl = rng.integers(0, spec.n_clusters, size=spec.batch_size)
        qvecs = np.round(
            centers[qcl] + rng.normal(0.0, spec.cluster_sigma, size=(spec.batch_size, spec.dim)), 5
        )
        qids = np.arange(b * spec.batch_size, (b + 1) * spec.batch_size, dtype=np.int64)
        inst.batches.append({"qids": qids, "users": users, "vecs": qvecs})
    return inst


def _vec_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), type=pa.float64())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=row_group_size)


def write_parquet(inst: Instance, root: str) -> dict[str, str]:
    """Write every input under ``root``; returns the logical-name → path map."""
    n = inst.vectors.shape[0]
    paths = {
        "blocks": os.path.join(root, "blocks.parquet"),
        "permission_assignment": os.path.join(root, "permission_assignment.parquet"),
        "user_roles": os.path.join(root, "user_roles.parquet"),
        "queries": os.path.join(root, "queries"),
        "query_roles": os.path.join(root, "query_roles"),
    }
    # several row groups, so Spark can split the corpus across cores the
    # way it splits a file written by a cluster job
    _write(
        pa.table({
            "block_id": pa.array(np.arange(n, dtype=np.int64)),
            "document_id": pa.array(inst.doc_of_block),
            "vector": _vec_array(inst.vectors),
        }),
        paths["blocks"],
        row_group_size=max(1024, -(-n // 16)),
    )
    pa_roles = np.concatenate([np.full(len(d), r, dtype=np.int32) for r, d in enumerate(inst.role_docs)])
    pa_docs = np.concatenate(inst.role_docs)
    _write(pa.table({"role_id": pa.array(pa_roles), "document_id": pa.array(pa_docs)}), paths["permission_assignment"])
    ur_users = np.concatenate([np.full(len(r), u, dtype=np.int64) for u, r in enumerate(inst.user_roles)])
    ur_roles = np.concatenate(inst.user_roles).astype(np.int32)
    _write(pa.table({"user_id": pa.array(ur_users), "role_id": pa.array(ur_roles)}), paths["user_roles"])
    for b, batch in enumerate(inst.batches):
        _write(
            pa.table({
                "query_id": pa.array(batch["qids"]),
                "user_id": pa.array(batch["users"]),
                "query_vector": _vec_array(batch["vecs"]),
            }),
            batch_path(paths["queries"], b),
        )
        qr_q = np.concatenate([np.full(len(inst.user_roles[u]), q, dtype=np.int64)
                               for q, u in zip(batch["qids"], batch["users"])])
        qr_r = np.concatenate([inst.user_roles[u] for u in batch["users"]]).astype(np.int32)
        _write(pa.table({"query_id": pa.array(qr_q), "role_id": pa.array(qr_r)}), batch_path(paths["query_roles"], b))
    inst.paths = paths
    return paths


def write_ids(ids: np.ndarray, path: str) -> None:
    """Write a ``block_id`` list (the churn workload's delete slices)."""
    _write(pa.table({"block_id": pa.array(ids.astype(np.int64))}), path)


def batch_path(directory: str, b: int) -> str:
    return os.path.join(directory, f"b{b:05d}.parquet")


def input_hash(root: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def properties(inst: Instance, split_bytes: int) -> dict:
    """Measured workload properties a later change can cite."""
    n = inst.vectors.shape[0]
    sel = np.array([inst.user_block_mask(u).mean() for u in range(len(inst.user_roles))])
    queried = np.concatenate([b["users"] for b in inst.batches])
    qsel = sel[queried]
    seen: set = set()
    seen_sets: set = set()
    repeat_batches = repeat_queries = 0
    for b in inst.batches:
        combs = [tuple(inst.user_roles[u]) for u in b["users"]]
        repeat_queries += sum(c in seen for c in combs)
        key = frozenset(combs)
        repeat_batches += key in seen_sets
        seen.update(combs)
        seen_sets.add(key)
    blocks_bytes = os.path.getsize(inst.paths["blocks"]) if inst.paths else 0
    return {
        "n_blocks": n,
        "dim": int(inst.vectors.shape[1]),
        "n_docs": inst.n_docs,
        "n_roles": len(inst.role_docs),
        "n_users": len(inst.user_roles),
        "selectivity_min": round(float(sel.min()), 4),
        "selectivity_median": round(float(np.median(sel)), 4),
        "selectivity_max": round(float(sel.max()), 4),
        "queried_selectivity_min": round(float(qsel.min()), 4),
        "queried_selectivity_median": round(float(np.median(qsel)), 4),
        "queried_selectivity_max": round(float(qsel.max()), 4),
        "batch_roleset_repeat_share": round(repeat_batches / max(1, len(inst.batches)), 4),
        "query_roleset_repeat_share": round(repeat_queries / max(1, queried.size), 4),
        "blocks_file_bytes": blocks_bytes,
        "corpus_over_split_size": round(blocks_bytes / split_bytes, 4),
    }
