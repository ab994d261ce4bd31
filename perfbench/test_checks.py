"""The benchmark's own checks fire on deliberately corrupted results.

    python3 -m pytest perfbench -q -p no:cacheprovider

Pure NumPy: no Spark session is started.
"""

from collections import namedtuple

import numpy as np

from checks import (
    check_count,
    check_topk,
    group_rows,
    pq_self_distance,
    recall_hits,
)
from datagen import LiveSet, VectorSource, exact_topk
from spans import Span, self_times

Row = namedtuple("Row", "query_id vector_id partition_id squared_distance rank")
K = 3


def good_rows():
    return [
        Row(0, 10, 1, 0.5, 1),
        Row(0, 11, 1, 0.7, 2),
        Row(0, 12, 2, 0.9, 3),
        Row(1, 20, 3, 0.1, 1),
        Row(1, 21, 3, 0.2, 2),
        Row(1, 22, 3, 0.2, 3),
    ]


def check(rows, **kw):
    return check_topk(group_rows(rows), [0, 1], K, **kw)


def test_valid_result_passes():
    assert check(good_rows()) == []
    assert check(good_rows(), deleted={99}, self_ids={0: (10, 0.5)}) == []


def test_wrong_row_count_fires():
    errors = check(good_rows()[:-1])
    assert any("2 rows, expected 3" in e for e in errors)


def test_bad_ranks_fire():
    rows = good_rows()
    rows[1] = rows[1]._replace(rank=3)
    assert any("ranks" in e for e in check(rows))


def test_descending_distances_fire():
    rows = good_rows()
    rows[2] = rows[2]._replace(squared_distance=0.6)
    rows[1] = rows[1]._replace(squared_distance=0.8)
    assert any("not ascending" in e for e in check(rows))


def test_duplicate_id_fires():
    rows = good_rows()
    rows[2] = rows[2]._replace(vector_id=10)
    assert any("duplicate" in e for e in check(rows))


def test_deleted_id_fires():
    assert any("deleted" in e for e in check(good_rows(), deleted={21}))


def test_missing_self_id_fires():
    # id 30 is closer to its own query than every row returned
    errors = check(good_rows(), self_ids={0: (30, 0.1)})
    assert any("upserted id 30" in e for e in errors)


def test_missing_self_id_allowed_on_tie_or_approximation():
    # own distance equal to (tie) or above the k-th: a valid top-k
    assert check(good_rows(), self_ids={0: (30, 0.9)}) == []
    assert check(good_rows(), self_ids={0: (30, 1.5)}) == []


def test_missing_query_fires():
    rows = [r for r in good_rows() if r.query_id == 0]
    assert any("query 1: 0 rows" in e for e in check(rows))


def test_count_check_fires():
    assert check_count(100, 100) == []
    assert check_count(99, 100) != []


def test_recall_hits():
    results = group_rows(good_rows())
    assert recall_hits(results, {0: [10, 11, 99], 1: [20, 21, 22]}) == (5, 6)


def test_pq_self_distance_matches_direct_encoding():
    rng = np.random.default_rng(0)
    centroids = rng.standard_normal((4, 8))
    codebooks = rng.standard_normal((2, 5, 4))
    # a vector that is exactly centroid 2 + codes (1, 3): distance 0
    vec = centroids[2] + np.concatenate([codebooks[0, 1], codebooks[1, 3]])
    assert pq_self_distance(vec, centroids, codebooks) < 1e-20
    shifted = vec + 0.01
    assert pq_self_distance(shifted, centroids, codebooks) > 0


def test_exact_topk_matches_sort():
    src = VectorSource(3, 16)
    vecs = src.vectors(200)
    ids = np.arange(1000, 1200)
    q = src.perturb(vecs[:5])
    got = exact_topk(q, ids, vecs, 7)
    for i in range(5):
        d = ((vecs.astype(np.float64) - q[i].astype(np.float64)) ** 2).sum(1)
        assert list(got[i]) == list(ids[np.argsort(d, kind="stable")[:7]])


def test_source_is_seeded():
    a = VectorSource(5, 8).vectors(10)
    b = VectorSource(5, 8).vectors(10)
    c = VectorSource(6, 8).vectors(10)
    assert np.array_equal(a, b) and not np.array_equal(a, c)


def test_live_set_tracks_writes():
    live = LiveSet(np.arange(5), np.zeros((5, 2), dtype=np.float32))
    live.upsert(np.array([3, 7]), np.ones((2, 2), dtype=np.float32))
    assert sorted(live.ids.tolist()) == [0, 1, 2, 3, 4, 7]
    assert live.vecs[list(live.ids).index(3)].tolist() == [1, 1]
    live.delete(np.array([0, 7]))
    assert sorted(live.ids.tolist()) == [1, 2, 3, 4]
    assert live.deleted == {0, 7}


def span(sid, layer, start, end, depth, parent=0):
    return Span(sid, f"s{sid}", layer, "r", parent, depth, start, end)


def test_self_times_add_up_to_wall():
    root = span(0, "bench", 0.0, 10.0, 0, None)
    spans = [
        root,
        span(1, "plans.ivf", 1.0, 4.0, 1),
        span(2, "plans.ivf", 1.5, 2.0, 2, 1),
        span(3, "plans.ivf", 5.0, 9.0, 1),
        # overlapping jobs, one reaching past the request's end
        span(4, "spark", 5.5, 7.0, 1000, 3),
        span(5, "spark", 6.0, 8.0, 1000, 3),
        span(6, "spark", 9.5, 11.0, 1000, 0),
    ]
    st = self_times(spans, root)
    assert abs(sum(st.values()) - 10.0) < 1e-12
    assert abs(st["spark"] - (2.5 + 0.5)) < 1e-12
    assert abs(st["plans.ivf"] - (3.0 + 1.5)) < 1e-12
    assert abs(st["bench"] - 2.5) < 1e-12
