"""Output checks. Each returns a list of failure messages; an operation
whose list is non-empty counts as failed."""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import numpy as np


def group_rows(rows: Iterable) -> dict[int, list[tuple[int, float, int]]]:
    """ann_query rows -> {query_id: [(vector_id, distance, rank), ...]}
    in rank order."""
    out: dict[int, list[tuple[int, float, int]]] = {}
    for r in rows:
        out.setdefault(int(r.query_id), []).append(
            (int(r.vector_id), float(r.squared_distance), int(r.rank))
        )
    for res in out.values():
        res.sort(key=lambda t: t[2])
    return out


def check_topk(
    results: Mapping[int, list[tuple[int, float, int]]],
    query_ids: Iterable[int],
    k: int,
    deleted: Iterable[int] = (),
    self_ids: Mapping[int, tuple[int, float]] | None = None,
) -> list[str]:
    """Per query: exactly k rows, ranks 1..k, distances ascending, no
    id twice, no deleted id.

    ``self_ids`` maps a query that is an exact copy of a stored vector to
    (that vector's id, its own PQ distance from ``pq_self_distance``).
    The id must be in the top k unless its own distance is not below
    the k-th returned one: PQ is approximate, and vectors with identical
    codes tie (ties go to the lower id), so only a result that a correct
    index could not return counts as a failure."""
    errors: list[str] = []
    deleted = set(deleted)
    for qid in query_ids:
        res = results.get(qid, [])
        ids = [r[0] for r in res]
        dists = [r[1] for r in res]
        if len(res) != k:
            errors.append(f"query {qid}: {len(res)} rows, expected {k}")
        if [r[2] for r in res] != list(range(1, len(res) + 1)):
            errors.append(f"query {qid}: ranks are not 1..{len(res)}")
        if any(b < a for a, b in zip(dists, dists[1:])):
            errors.append(f"query {qid}: distances not ascending")
        if len(set(ids)) != len(ids):
            errors.append(f"query {qid}: duplicate ids")
        gone = deleted.intersection(ids)
        if gone:
            errors.append(f"query {qid}: deleted ids returned {sorted(gone)}")
        if self_ids and qid in self_ids:
            own_id, own_dist = self_ids[qid]
            kth = dists[-1] if len(dists) == k else float("inf")
            if own_id not in ids and own_dist < kth - 1e-9 * max(1.0, kth):
                errors.append(
                    f"query {qid}: upserted id {own_id} (distance "
                    f"{own_dist:.6g}) missing from its own top-{k}"
                )
    return errors


def pq_self_distance(
    vec: np.ndarray, centroids: np.ndarray, codebooks: np.ndarray
) -> float:
    """ADC distance between a vector and its own IVF+PQ encoding: the
    residual to the nearest centroid, quantized per subvector to the
    nearest code (natural dimension order)."""
    x = np.asarray(vec, dtype=np.float64)
    pid = np.argmin(((centroids - x) ** 2).sum(axis=1))
    d, _, w = codebooks.shape
    sub = (x - centroids[pid]).reshape(d, w)
    return float(
        sum(((codebooks[i] - sub[i]) ** 2).sum(axis=1).min() for i in range(d))
    )


def check_count(manifest_count: int, live_count: int) -> list[str]:
    if manifest_count != live_count:
        return [f"manifest num_vectors {manifest_count} != live {live_count}"]
    return []


def recall_hits(
    results: Mapping[int, list[tuple[int, float, int]]],
    truth: Mapping[int, Iterable[int]],
) -> tuple[int, int]:
    """(true neighbours found, neighbours expected) summed over queries."""
    found = expected = 0
    for qid, gt in truth.items():
        gt = set(int(i) for i in gt)
        found += len(gt.intersection(r[0] for r in results.get(qid, [])))
        expected += len(gt)
    return found, expected
