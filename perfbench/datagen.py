"""Seeded inputs for the benchmark: corpus, queries and exact ground truth.

Everything here is NumPy/pyarrow only; the program under test receives
the corpus and write batches as parquet files and the queries as arrays.

Corpus shape: a 256-cluster Gaussian mixture in a 16-d latent space,
randomly projected to N dims, plus isotropic noise. The low-rank shape
gives neighbourhoods with a real distance gap, so recall@10 of an
IVF+PQ index is far from both 0 and 1 and works as a quality guard.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LATENT_DIMS = 16
CLUSTERS = 256
CLUSTER_SPREAD = 0.3
NOISE = 0.05


class VectorSource:
    """Draws vectors from one seeded mixture; every draw advances the
    same generator, so a seed fixes the whole input sequence of a run."""

    def __init__(self, seed: int, dims: int):
        self.rng = np.random.default_rng(seed)
        self.dims = dims
        self.centers = self.rng.standard_normal((CLUSTERS, LATENT_DIMS))
        self.proj = self.rng.standard_normal((LATENT_DIMS, dims)) / np.sqrt(
            LATENT_DIMS
        )

    def vectors(self, count: int) -> np.ndarray:
        labels = self.rng.integers(0, CLUSTERS, count)
        latent = self.centers[labels] + CLUSTER_SPREAD * self.rng.standard_normal(
            (count, LATENT_DIMS)
        )
        noise = NOISE * self.rng.standard_normal((count, self.dims))
        return (latent @ self.proj + noise).astype(np.float32)

    def perturb(self, vecs: np.ndarray) -> np.ndarray:
        """Queries near stored vectors: the vectors plus isotropic noise."""
        noise = NOISE * self.rng.standard_normal(vecs.shape)
        return (vecs + noise).astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """(vec_id bigint, embedding array<float>) parquet, the index's
    default id/vector column names."""
    n = vecs.shape[1]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(np.ascontiguousarray(vecs).ravel()), n
    ).cast(pa.list_(pa.float32()))
    table = pa.table(
        {"vec_id": pa.array(ids.astype(np.int64)), "embedding": emb}
    )
    pq.write_table(table, path)


def exact_topk(
    queries: np.ndarray, ids: np.ndarray, vecs: np.ndarray, k: int
) -> np.ndarray:
    """Brute-force exact top-k ids by squared L2, (Q, k), nearest first."""
    q = queries.astype(np.float64)
    x = vecs.astype(np.float64)
    d = (q**2).sum(1)[:, None] - 2.0 * (q @ x.T) + (x**2).sum(1)[None, :]
    part = np.argpartition(d, k - 1, axis=1)[:, :k]
    order = np.take_along_axis(d, part, axis=1).argsort(axis=1, kind="stable")
    return ids[np.take_along_axis(part, order, axis=1)]


class LiveSet:
    """The benchmark's own copy of what the store should hold: ids and
    vectors after every upsert and delete, for ground truth and for the
    manifest count check."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = ids.astype(np.int64)
        self.vecs = vecs
        self.deleted: set[int] = set()

    def __len__(self) -> int:
        return len(self.ids)

    def upsert(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        keep = ~np.isin(self.ids, ids)
        self.ids = np.concatenate([self.ids[keep], ids.astype(np.int64)])
        self.vecs = np.concatenate([self.vecs[keep], vecs])
        self.deleted.difference_update(int(i) for i in ids)

    def delete(self, ids: np.ndarray) -> None:
        keep = ~np.isin(self.ids, ids)
        self.ids = self.ids[keep]
        self.vecs = self.vecs[keep]
        self.deleted.update(int(i) for i in ids)
