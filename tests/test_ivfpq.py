"""IVF+PQ build / persist / query tests (SURVEY.md §5.2: recall vs the
exact oracle + manifest invariants; randomness pinned by seeds)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flechasdb_spark.operators.build import IndexConfig, build_index
from flechasdb_spark.operators.knn import knn_join
from flechasdb_spark.plans.ivf import ann_query, select_probes
from flechasdb_spark.sources.manifest import load_index, save_index, validate_manifest

CFG = IndexConfig(num_partitions=8, num_divisions=8, num_codes=16, seed=7)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def model(emb):
    return build_index(emb, CFG)


def test_build_shapes(model, emb):
    assert model.vector_size == 64
    assert model.centroids.shape == (8, 64)
    assert model.codebooks.shape == (8, 16, 8)
    assert model.num_vectors == emb.count()
    assert model.attr_cols == ["label"]
    enc = model.encoded
    row = enc.first()
    assert len(row.codes) == 8
    assert all(0 <= c < 16 for c in row.codes)
    # every vector encoded exactly once
    assert enc.count() == model.num_vectors
    assert enc.select("vec_id").distinct().count() == model.num_vectors
    # partition ids in range
    pids = [r.partition_id for r in enc.select("partition_id").distinct().collect()]
    assert all(0 <= p < 8 for p in pids)


def test_deterministic_rebuild(emb):
    m1 = build_index(emb, CFG)
    m2 = build_index(emb, CFG)
    assert np.allclose(m1.centroids, m2.centroids)
    assert np.allclose(m1.codebooks, m2.codebooks)


def test_save_load_roundtrip(model, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index"))
    save_index(model, path)
    loaded = load_index(spark, path)
    assert loaded.vector_size == model.vector_size
    assert loaded.num_vectors == model.num_vectors
    assert np.allclose(loaded.centroids, model.centroids, atol=1e-6)
    assert np.allclose(loaded.codebooks, model.codebooks, atol=1e-6)
    a = {r.vec_id: (r.partition_id, list(r.codes)) for r in model.encoded.collect()}
    b = {r.vec_id: (r.partition_id, list(r.codes)) for r in loaded.encoded.collect()}
    assert a == b


def test_validate_manifest_rejects_bad():
    with pytest.raises(ValueError, match="divisible"):
        validate_manifest(
            dict(vector_size=10, num_vectors=1, num_partitions=2,
                 num_divisions=3, num_codes=4)
        )
    with pytest.raises(ValueError, match="missing"):
        validate_manifest({"vector_size": 8})


def test_partition_pruning_reaches_scan(model, spark, tmp_path_factory):
    """The IVF probe filter must become a Parquet PartitionFilter on the
    persisted index — the reference's lazy per-partition load
    (src/db/stored.rs:262-293) expressed as storage pruning; at scale
    this is the difference between reading nprobe/P of the index and
    reading all of it."""
    from pyspark.sql import functions as F

    path = str(tmp_path_factory.mktemp("prune_index"))
    save_index(model, path)
    loaded = load_index(spark, path)
    pruned = loaded.encoded.where(F.col("partition_id").isin([0, 2]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [partition_id" in plan.replace("#", " #").replace(
        "partition_id #", "partition_id#"
    ) or "PartitionFilters" in plan and "IN (0,2)" in plan


def test_query_on_loaded_index_matches_in_memory(model, emb, spark, tmp_path_factory):
    """S2-S4 + Q1-Q5 over the persisted index: querying a loaded index
    returns exactly what the in-memory model returns (frozen-index
    determinism, SURVEY.md §2.4)."""
    path = str(tmp_path_factory.mktemp("saved_index"))
    save_index(model, path)
    loaded = load_index(spark, path)
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    a = {
        (r.query_id, r.vector_id, round(r.squared_distance, 6))
        for r in ann_query(model, qs, k=5, nprobe=4).collect()
    }
    b = {
        (r.query_id, r.vector_id, round(r.squared_distance, 6))
        for r in ann_query(loaded, qs, k=5, nprobe=4).collect()
    }
    assert a == b


def test_distributed_codebook_training(model, emb):
    """applyInPandas D-way training: right shapes, deterministic across
    runs, and codebooks usable for encoding (codes in range)."""
    from flechasdb_spark.operators.build import (
        pq_encoder_udf,
        train_codebooks_distributed,
    )

    cb1 = train_codebooks_distributed(emb, model.centroids, CFG, 64)
    cb2 = train_codebooks_distributed(emb, model.centroids, CFG, 64)
    assert cb1.shape == (8, 16, 8)
    assert np.array_equal(cb1, cb2)
    enc = pq_encoder_udf(emb.sparkSession, model.centroids, cb1)
    row = emb.select(enc(F.col("embedding")).alias("e")).first()
    assert len(row.e.codes) == 8
    assert all(0 <= c < 16 for c in row.e.codes)


def test_nprobe_exceeds_partitions_errors(model):
    with pytest.raises(ValueError, match="nprobe"):
        select_probes(model, np.zeros((1, 64)), nprobe=9)


def _recall(model, emb, k, nprobe, nq=20):
    qdf = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvector")
    )
    exact = {(r.query_id, r.vec_id) for r in knn_join(qdf, emb, k=k).collect()}
    queries = [(r.query_id, list(r.qvector)) for r in qdf.collect()]
    approx = ann_query(model, queries, k=k, nprobe=nprobe)
    got = {(r.query_id, r.vector_id) for r in approx.collect()}
    return len(exact & got) / len(exact), queries, got


def test_recall_vs_exact(model, emb):
    """Recall@10 vs the flat oracle. These synthetic embeddings are
    near-random — PQ's worst case — so the default-resolution threshold
    is calibrated (measured ~0.2 at D=8/C=16, ~0.67 at D=32/C=16); the
    reference on the same data would degrade identically (same ADC
    math). nprobe=P isolates PQ error from IVF probing error."""
    recall, queries, got = _recall(model, emb, k=10, nprobe=8)
    assert recall >= 0.12, f"recall@10 too low: {recall}"
    # scoring over a frozen index is deterministic (SURVEY.md §2.4)
    again = {
        (r.query_id, r.vector_id)
        for r in ann_query(model, queries, k=10, nprobe=8).collect()
    }
    assert got == again


def test_recall_high_resolution(emb):
    hi = IndexConfig(num_partitions=8, num_divisions=32, num_codes=16, seed=7)
    model = build_index(emb, hi)
    recall, _, _ = _recall(model, emb, k=10, nprobe=8)
    assert recall >= 0.5, f"high-res recall@10 too low: {recall}"


def test_more_probes_never_hurt_much(model, emb):
    """nprobe=1 is a strict subset of candidates vs nprobe=P."""
    r1, _, _ = _recall(model, emb, k=10, nprobe=1, nq=10)
    rp, _, _ = _recall(model, emb, k=10, nprobe=8, nq=10)
    assert rp >= r1


def test_partition_pruning_reads_fewer_rows(model, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index_prune"))
    save_index(model, path)
    loaded = load_index(spark, path)
    q = np.zeros((1, 64))
    res = ann_query(loaded, q, k=5, nprobe=2, query_ids=[0])
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the scan must carry a partition filter on partition_id
    assert "partition_id" in plan
    assert res.count() == 5


def test_assemble_index_matches_build(model, emb):
    """assemble_index (pre-trained models -> encode only) produces the
    exact encoding build_index produces with the same models — the
    train-once / encode-everywhere contract."""
    from flechasdb_spark.operators.build import assemble_index

    m2 = assemble_index(emb, model.centroids, model.codebooks, CFG)
    assert m2.num_vectors == model.num_vectors
    a = {r.vec_id: (r.partition_id, list(r.codes)) for r in model.encoded.collect()}
    b = {r.vec_id: (r.partition_id, list(r.codes)) for r in m2.encoded.collect()}
    assert a == b


def test_assemble_index_rejects_bad_shapes(emb):
    from flechasdb_spark.operators.build import assemble_index

    with pytest.raises(ValueError, match="centroids shape"):
        assemble_index(emb, np.zeros((3, 64)), np.zeros((8, 16, 8)), CFG)
    with pytest.raises(ValueError, match="codebooks shape"):
        assemble_index(emb, np.zeros((8, 64)), np.zeros((4, 16, 8)), CFG)


def test_rerank_recall_gate(model, emb):
    """VERDICT r1: exact re-ranking of the top k*factor ADC candidates
    against the original vectors lifts recall@10 from PQ-approximation
    levels (~0.2 here) to >= 0.8 at D=8/C=16."""
    qdf = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvector")
    )
    exact = {(r.query_id, r.vec_id) for r in knn_join(qdf, emb, k=10).collect()}
    queries = [(r.query_id, list(r.qvector)) for r in qdf.collect()]
    approx = ann_query(
        model, queries, k=10, nprobe=8, rerank=emb, rerank_factor=8
    )
    got = {(r.query_id, r.vector_id) for r in approx.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"re-ranked recall@10 too low: {recall}"


def test_rerank_distances_are_exact(model, emb):
    """Re-ranked squared_distance must equal the true squared L2 (not
    the ADC approximation) for every returned row."""
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    out = ann_query(model, qs, k=5, nprobe=8, rerank=emb, rerank_factor=8)
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    qmap = {q: np.asarray(v, dtype=np.float64) for q, v in qs}
    for r in out.collect():
        true_d = float(((qmap[r.query_id] - vecs[r.vector_id]) ** 2).sum())
        assert abs(r.squared_distance - true_d) < 1e-6


def test_fused_rerank_matches_join_rerank(emb):
    """rerank='stored' (exact distances computed inside the pruned ADC
    scan, keep_vectors index) returns the same rows as the join-based
    rerank under the rounded contract, and errors without stored
    vectors or with a non-batch scorer."""
    from flechasdb_spark.operators.build import assemble_index, build_index

    kept = build_index(
        emb,
        IndexConfig(
            num_partitions=CFG.num_partitions,
            num_divisions=CFG.num_divisions,
            num_codes=CFG.num_codes,
            seed=CFG.seed,
            keep_vectors=True,
        ),
    )
    assert "embedding" in kept.encoded.columns
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    joined = sorted(
        (r.query_id, r.vector_id, r.squared_distance, r.rank)
        for r in ann_query(
            kept, qs, k=5, nprobe=8, round_to=4, rerank=emb, rerank_factor=4
        ).collect()
    )
    fused = sorted(
        (r.query_id, r.vector_id, r.squared_distance, r.rank)
        for r in ann_query(
            kept, qs, k=5, nprobe=8, round_to=4, rerank="stored", rerank_factor=4
        ).collect()
    )
    assert fused == joined

    no_vec = build_index(emb, CFG)
    with pytest.raises(ValueError, match="keep_vectors"):
        ann_query(no_vec, qs, k=5, nprobe=8, rerank="stored")
    with pytest.raises(ValueError, match="scorer"):
        ann_query(kept, qs, k=5, nprobe=8, rerank="stored", scorer="sql")
    with pytest.raises(ValueError, match="rerank mode"):
        ann_query(kept, qs, k=5, nprobe=8, rerank="bogus")


def test_fused_rerank_survives_save_load(emb, spark, tmp_path_factory):
    """keep_vectors indexes persist the raw vectors in the partition
    files; after save_index -> load_index the fused rerank path still
    works and matches the in-memory result."""
    from flechasdb_spark.operators.build import build_index

    kept = build_index(
        emb,
        IndexConfig(
            num_partitions=CFG.num_partitions,
            num_divisions=CFG.num_divisions,
            num_codes=CFG.num_codes,
            seed=CFG.seed,
            keep_vectors=True,
        ),
    )
    path = str(tmp_path_factory.mktemp("kept_idx"))
    save_index(kept, path)
    loaded = load_index(spark, path)
    assert "embedding" in loaded.encoded.columns
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 3).collect()
    ]
    mem = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(
            kept, qs, k=5, nprobe=8, round_to=4, rerank="stored"
        ).collect()
    )
    disk = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(
            loaded, qs, k=5, nprobe=8, round_to=4, rerank="stored"
        ).collect()
    )
    assert mem == disk


def test_query_and_cluster_event_callbacks(model, emb):
    """Reference event-handler parity (src/db/stored.rs:513-532,
    src/kmeans.rs:71-88): query phases and k-means iterations fire
    instrumentation callbacks."""
    from flechasdb_spark.operators.kmeans_np import kmeans_fit

    events = []
    qs = [(0, [0.0] * 64)]
    ann_query(model, qs, k=3, nprobe=2, on_event=lambda s, dt: events.append(s))
    assert events == ["select_probes", "adc_tables", "plan_built"]

    kevents = []
    kmeans_fit(
        np.random.RandomState(0).randn(64, 4), 4, seed=1,
        on_event=lambda e, p: kevents.append((e, p)),
    )
    assert kevents[0] == ("init", 4)
    assert all(e == "iteration" for e, _ in kevents[1:])
    assert all(p["shift"] >= 0 for _, p in kevents[1:])


def test_scorers_agree_on_rounded_contract(model, emb):
    """sql, pandas, and batch ADC scorers return the same rows under
    the rounded-ranking contract (auto picks among them by table
    size)."""
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 5).collect()
    ]
    results = {
        scorer: sorted(
            (r.query_id, r.vector_id, r.squared_distance)
            for r in ann_query(
                model, qs, k=5, nprobe=4, round_to=4, scorer=scorer
            ).collect()
        )
        for scorer in ("sql", "pandas", "batch")
    }
    assert results["sql"] == results["pandas"] == results["batch"]


def test_lazy_centroids_distributed_probes(model, emb, spark, tmp_path_factory):
    """collect_centroids=False serving mode (huge-P indexes): Phase 1
    runs as a Spark job over the centroid table (select_probes_df) and
    only the O(Q * nprobe) probed centroids reach the driver. Results
    must equal the driver-side Phase 1 under the rounded-score
    contract; nprobe > P must still error; and the distributed probe
    plan must keep the per-query top-k pre-shuffle (WindowGroupLimit),
    or at huge P every scan task would forward all its centroids."""
    from flechasdb_spark.plans.ivf import select_probes_df

    path = str(tmp_path_factory.mktemp("lazy_index"))
    save_index(model, path)
    eager = load_index(spark, path)
    lazy = load_index(spark, path, collect_centroids=False)
    assert lazy.centroids is None and lazy.centroids_source is not None
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).collect()
    ]

    def key(rows):
        return sorted(
            (r.query_id, r.rank, r.vector_id, r.squared_distance)
            for r in rows
        )

    a = key(ann_query(eager, qs, k=5, nprobe=4, round_to=4).collect())
    b = key(ann_query(lazy, qs, k=5, nprobe=4, round_to=4).collect())
    assert a == b

    with pytest.raises(ValueError, match="nprobe"):
        ann_query(lazy, qs, k=5, nprobe=99)

    qarr = np.array([v for _, v in qs], dtype=np.float64)
    pr = select_probes_df(
        lazy.centroids_df(spark), qarr, 4, query_ids=[q for q, _ in qs]
    )
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    # centroids_np() still materializes for maintenance paths
    assert np.allclose(lazy.centroids_np(), eager.centroids, atol=1e-6)


def _distortion(model, x):
    """Mean PQ quantization error of x under the model's frozen params."""
    cent, cb = model.centroids, model.codebooks
    d, c, w = cb.shape
    pid = np.argmin(
        (cent**2).sum(axis=1)[None, :] - 2.0 * (x @ cent.T), axis=1
    )
    res = x - cent[pid]
    if model.dim_perm is not None:
        res = res[:, np.asarray(model.dim_perm, dtype=int)]
    tot = 0.0
    for di in range(d):
        sub = res[:, di * w : (di + 1) * w]
        dist = ((sub[:, None, :] - cb[di][None, :, :]) ** 2).sum(axis=2)
        tot += dist.min(axis=1).sum()
    return tot / x.shape[0]


def test_balance_dims_lifecycle(spark, tmp_path_factory):
    """IndexConfig(balance_dims=True) trains an OPQ-style
    variance-balanced dimension permutation: deterministic across
    rebuilds, lower quantization distortion than the natural split on
    a variance-skewed corpus (where one contiguous slice would hog the
    energy), preserved through save/load, and query results from the
    loaded index match the in-memory model."""
    import dataclasses

    rng = np.random.RandomState(5)
    n, dims = 1200, 64
    scale = np.ones(dims)
    scale[:8] = 10.0  # natural split puts ALL the energy in division 0
    x = rng.randn(n, dims) * scale
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    x32 = x.astype(np.float32).astype(np.float64)
    cfg = IndexConfig(num_partitions=4, num_divisions=8, num_codes=16, seed=3)
    nat = build_index(df, cfg)
    bal = build_index(df, dataclasses.replace(cfg, balance_dims=True))
    assert nat.dim_perm is None
    assert bal.dim_perm is not None
    assert sorted(bal.dim_perm) == list(range(dims))
    # high-variance dims spread across divisions, not bunched in one
    w = dims // 8
    first_div = set(bal.dim_perm[:w])
    assert len(first_div & set(range(8))) <= 2
    assert _distortion(bal, x32) < _distortion(nat, x32)

    bal2 = build_index(df, dataclasses.replace(cfg, balance_dims=True))
    assert bal2.dim_perm == bal.dim_perm

    path = str(tmp_path_factory.mktemp("bal_index"))
    save_index(bal, path)
    loaded = load_index(spark, path)
    assert loaded.dim_perm == bal.dim_perm
    qs = [(int(i), [float(v) for v in x[i]]) for i in range(5)]

    def key(rows):
        return sorted(
            (r.query_id, r.rank, r.vector_id, r.squared_distance)
            for r in rows
        )

    assert key(ann_query(loaded, qs, k=5, nprobe=3, round_to=4).collect()) == key(
        ann_query(bal, qs, k=5, nprobe=3, round_to=4).collect()
    )


def test_relational_permuted_encode_matches_fused(spark):
    """The relational pq_encode(dim_perm=...) and the fused encoder UDF
    agree code-for-code under the same frozen codebooks + permutation
    (centroid fixed at zero so residual == vector)."""
    from flechasdb_spark.operators.build import assemble_index
    from flechasdb_spark.operators.pq import fixed_codebooks, pq_encode

    rng = np.random.RandomState(11)
    dims, d, c = 16, 4, 8
    w = dims // d
    x = rng.randn(200, dims).astype(np.float32).astype(np.float64)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    perm = [dd + j * d for dd in range(d) for j in range(w)]  # interleave
    cb_df = fixed_codebooks(spark, d, c, w)
    cb = np.array(
        [
            [
                [np.float32((ci - 3.5) * 0.1 + di * 0.01 * j) for j in range(w)]
                for ci in range(c)
            ]
            for di in range(d)
        ],
        dtype=np.float64,
    )
    cfg = IndexConfig(num_partitions=1, num_divisions=d, num_codes=c, seed=0)
    fused = assemble_index(
        df, np.zeros((1, dims)), cb, cfg, dim_perm=perm
    )
    got = {
        (r.vec_id, r.division): r.code
        for r in fused.encoded.select(
            "vec_id", F.posexplode("codes").alias("division", "code")
        ).collect()
    }
    want = {
        (r.vec_id, r.division): r.code
        for r in pq_encode(df, cb_df, width=w, dim_perm=perm).collect()
    }
    assert got == want


# --- radius search on the PQ family (r10, VERDICT r9 #2) ----------------


def test_range_query_semantics_vs_topk(model, emb):
    """ann_range_query returns exactly the candidates whose ADC
    distance (rounded) is <= radius within the probed cells: at full
    probe it equals the unlimited top-k path filtered by the radius,
    and every returned distance respects the bound."""
    from flechasdb_spark.plans.ivf import ann_range_query

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    full = ann_query(
        model, [(3, qv)], k=emb.count(), nprobe=CFG.num_partitions,
        round_to=4, scorer="sql",
    ).collect()
    radius = sorted(r.squared_distance for r in full)[25]  # ~26 matches
    got = ann_range_query(
        model, qv, radius=radius, nprobe=CFG.num_partitions, round_to=4
    ).collect()
    want = sorted(
        (r.vector_id, r.squared_distance)
        for r in full
        if r.squared_distance <= radius
    )
    assert sorted((r.vector_id, r.squared_distance) for r in got) == want
    assert all(r.squared_distance <= radius for r in got)
    # ordered ascending with id tie-break on the rounded value
    keys = [(r.squared_distance, r.vector_id) for r in got]
    assert keys == sorted(keys)
    # ordered limit keeps the nearest
    lim = ann_range_query(
        model, qv, radius=radius, nprobe=CFG.num_partitions, round_to=4,
        limit=5,
    ).collect()
    assert [(r.squared_distance, r.vector_id) for r in lim] == keys[:5]


def test_range_query_recall_vs_exact(model, emb):
    """ADC distances are PQ-approximate, so the gate is recall against
    the EXACT radius contract (knn.range_search): at full probe with a
    slack radius, ann_range_query finds >= 80% of the true
    radius-neighbors (the FAISS IVFPQ range_search trade)."""
    from flechasdb_spark.operators.knn import range_search
    from flechasdb_spark.plans.ivf import ann_range_query

    from flechasdb_spark.operators.knn import flat_knn

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    # radius = the 10th-nearest exact distance: guarantees a non-trivial
    # result at every SF instead of hardcoding a data-dependent constant
    r = sorted(
        r.squared_distance
        for r in flat_knn(emb, qv, k=10, round_to=4).collect()
    )[-1]
    exact = range_search(emb, qv, radius=r, round_to=4).collect()
    assert len(exact) >= 5  # the fixture radius actually selects
    approx = ann_range_query(
        model, qv, radius=r * 1.3, nprobe=CFG.num_partitions, round_to=4
    ).collect()
    hit = {r.vector_id for r in approx} & {r.vec_id for r in exact}
    assert len(hit) / len(exact) >= 0.8


def test_range_query_batch_scorers_where_and_empty(model, emb):
    """Batch/sql scorer parity under the rounded contract, the where
    pre-filter, limit_per_query ranking, and the empty-batch schema
    (rank present iff limit_per_query is set)."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id").isin(3, 9)).collect()
    ]
    kw = dict(radius=1.7, nprobe=CFG.num_partitions, round_to=4)
    a = ann_range_query_batch(model, qs, scorer="sql", **kw).collect()
    b = ann_range_query_batch(model, qs, scorer="batch", **kw).collect()
    key = lambda r: (r.query_id, r.squared_distance, r.vector_id)
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) > 0

    flt = ann_range_query_batch(
        model, qs, where=F.col("label") == 1, **kw
    ).collect()
    lbl = {
        int(r["label"])
        for r in emb.join(
            emb.sparkSession.createDataFrame(
                [(r.vector_id,) for r in flt], "vec_id long"
            ),
            "vec_id",
            "left_semi",
        ).collect()
    }
    assert flt and lbl == {1}

    capped = ann_range_query_batch(model, qs, limit_per_query=3, **kw)
    rows = capped.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rank, r.squared_distance, r.vector_id))
    want = {}
    for r in a:
        want.setdefault(r.query_id, []).append((r.squared_distance, r.vector_id))
    for qid, pairs in per_q.items():
        assert [p[1:] for p in sorted(pairs)] == sorted(want[qid])[:3]

    empty = ann_range_query_batch(model, [], **kw)
    assert empty.columns == [
        "query_id", "vector_id", "partition_id", "squared_distance"
    ]
    e2 = ann_range_query_batch(model, [], limit_per_query=3, **kw)
    assert e2.columns == capped.columns and "rank" in e2.columns
    assert e2.unionByName(capped).count() == len(rows)


def test_range_query_prunes_partitions_at_rest(model, emb, spark, tmp_path_factory):
    """The radius scan's probe cut is a LITERAL isin — on a saved
    index it lands in the Parquet PartitionFilters (both scorers), so
    the radius path reads nprobe/P of the store like the top-k path."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    path = str(tmp_path_factory.mktemp("range_idx"))
    save_index(model, path)
    loaded = load_index(spark, path)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    for scorer in ("sql", "batch"):
        plan = (
            ann_range_query_batch(
                loaded, [(3, qv)], radius=1.5, nprobe=2, round_to=4,
                scorer=scorer,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        scan_lines = [
            ln for ln in plan.splitlines() if "PartitionFilters: [" in ln
        ]
        assert scan_lines, plan
        assert any(
            "partition_id" in ln and " IN (" in ln.split("PartitionFilters")[1]
            for ln in scan_lines
        ), (scorer, scan_lines)


def test_range_query_distributed_probes_parity(model, emb, spark, tmp_path_factory):
    """Huge-P lazy mode: ann_range_query_batch on an index loaded with
    collect_centroids=False (probe selection via select_probes_df)
    returns exactly the driver-side result."""
    from flechasdb_spark.plans.ivf import ann_range_query_batch

    path = str(tmp_path_factory.mktemp("range_lazy"))
    save_index(model, path)
    lazy = load_index(spark, path, collect_centroids=False)
    assert lazy.centroids is None
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id").isin(3, 9)).collect()
    ]
    kw = dict(radius=1.7, nprobe=3, round_to=4)
    a = ann_range_query_batch(model, qs, **kw).collect()
    b = ann_range_query_batch(lazy, qs, **kw).collect()
    key = lambda r: (r.query_id, r.squared_distance, r.vector_id)
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_range_query_rerank_exact_semantics(model, emb):
    """r10 range rerank on the PQ family: ADC pre-filter at
    radius*slack + exact verify at radius == knn.range_search exactly
    at full probe (ADC distances alone are PQ-approximate, so the
    unreranked result differs); limit_per_query applies to the
    EXACT-order result."""
    from flechasdb_spark.operators.knn import flat_knn, range_search
    from flechasdb_spark.plans.ivf import ann_range_query, ann_range_query_batch

    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    r = sorted(
        x.squared_distance
        for x in flat_knn(emb, qv, k=12, round_to=4).collect()
    )[-1]
    exact = sorted(
        (x.vec_id, x.squared_distance)
        for x in range_search(emb, qv, radius=r, round_to=4).collect()
    )
    for scorer in ("sql", "batch"):
        got = sorted(
            (x.vector_id, x.squared_distance)
            for x in ann_range_query(
                model, qv, radius=r, nprobe=CFG.num_partitions, round_to=4,
                rerank=emb, rerank_slack=2.5, scorer=scorer,
            ).collect()
        )
        assert got == exact, scorer
    plain = sorted(
        (x.vector_id, x.squared_distance)
        for x in ann_range_query(
            model, qv, radius=r, nprobe=CFG.num_partitions, round_to=4
        ).collect()
    )
    assert plain != exact
    capped = ann_range_query_batch(
        model, [(3, qv)], radius=r, nprobe=CFG.num_partitions, round_to=4,
        rerank=emb, rerank_slack=2.5, limit_per_query=4, scorer="batch",
    ).collect()
    assert sorted((x.rank, x.vector_id, x.squared_distance) for x in capped) == [
        (i + 1, v, d)
        for i, (d, v) in enumerate(
            sorted((d, v) for v, d in exact)[:4]
        )
    ]


def test_packed_pq_save_load_roundtrip_and_query_equality(
    model, emb, spark, tmp_path_factory
):
    """r10 packed PQ at rest (the save_ivfsq(pack_codes=True) sibling):
    codes stored as binary (2 codes/byte at C=16), lazily unpacked at
    load into the identical array<int> column — codes equal
    element-wise, schema identical, top-k AND radius queries equal,
    partition pruning intact."""
    from flechasdb_spark.plans.ivf import ann_range_query

    plain = str(tmp_path_factory.mktemp("pq_plain"))
    packed = str(tmp_path_factory.mktemp("pq_packed"))
    save_index(model, plain)
    save_index(model, packed, pack_codes=True)
    at_rest = spark.read.parquet(f"{packed}/index")
    assert "codes_bin" in at_rest.columns and "codes" not in at_rest.columns
    lp = load_index(spark, plain)
    lk = load_index(spark, packed)
    assert lp.encoded.schema["codes"].dataType.simpleString() == \
        lk.encoded.schema["codes"].dataType.simpleString()
    a = {r.vec_id: list(r.codes) for r in lp.encoded.collect()}
    b = {r.vec_id: list(r.codes) for r in lk.encoded.collect()}
    assert a == b
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 4).collect()
    ]
    key = lambda r: (r.query_id, r.rank)
    ra = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(lp, qs, k=5, nprobe=4, round_to=4).collect()
    )
    rb = sorted(
        (r.query_id, r.vector_id, r.squared_distance)
        for r in ann_query(lk, qs, k=5, nprobe=4, round_to=4).collect()
    )
    assert ra == rb
    qv = qs[0][1]
    va = sorted(
        (r.vector_id, r.squared_distance)
        for r in ann_range_query(lp, qv, radius=2.0, nprobe=4, round_to=4).collect()
    )
    vb = sorted(
        (r.vector_id, r.squared_distance)
        for r in ann_range_query(lk, qv, radius=2.0, nprobe=4, round_to=4).collect()
    )
    assert va == vb
    plan = (
        ann_query(lk, qs[:1], k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters: [" in ln]
    assert scan_lines and any(
        "partition_id" in ln and " IN (" in ln.split("PartitionFilters")[1]
        for ln in scan_lines
    ), scan_lines


# -- driver-resident serving path (cached indexes) ----------------------


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _keyed(rows):
    # float equality here is bit equality: no rounding anywhere
    return sorted(
        (r.query_id, r.rank, r.vector_id, r.partition_id, r.squared_distance)
        for r in rows
    )


def _assert_resident_parity(m, queries, k, nprobe, query_ids=None):
    """The driver path (a local relation) returns exactly the sql
    scorer's ids, distances, ranks and schema on the same model."""
    events = []
    local = ann_query(
        m, queries, k=k, nprobe=nprobe, query_ids=query_ids,
        on_event=lambda s, dt: events.append(s),
    )
    assert events == ["select_probes", "adc_tables", "plan_built"]
    assert "LocalTableScan" in _plan_of(local)
    ref = ann_query(m, queries, k=k, nprobe=nprobe, query_ids=query_ids,
                    scorer="sql")
    assert "LocalTableScan" not in _plan_of(ref)
    assert local.schema == ref.schema
    got = _keyed(local.collect())
    assert got == _keyed(ref.collect())
    return got


@pytest.fixture(scope="module")
def qvecs(emb):
    rows = emb.orderBy("vec_id").limit(64).collect()
    noise = np.random.RandomState(11).randn(len(rows), 64) * 0.05
    return np.array([r.embedding for r in rows], dtype=np.float64) + noise


def test_resident_parity_single_and_batch(model, qvecs):
    one = _assert_resident_parity(model, qvecs[:1], k=10, nprobe=2)
    assert [r[1] for r in one] == list(range(1, 11))
    # non-contiguous, unordered query ids
    perm = np.random.RandomState(3).permutation(64)
    qids = [int(x) for x in perm * 1_000_003 + 10**11]
    rows = _assert_resident_parity(model, qvecs, k=10, nprobe=4, query_ids=qids)
    assert {r[0] for r in rows} == set(qids)
    # nprobe = P scores every partition
    _assert_resident_parity(model, qvecs[:8], k=10, nprobe=8)


@pytest.mark.parametrize("chunk_rows", [50, 3000])
def test_resident_parity_across_score_chunks(model, qvecs, monkeypatch,
                                             chunk_rows):
    """Scoring split into chunks of ``_SCORE_CHUNK_ROWS`` candidates:
    50 is below one query's candidates (one query per chunk), 3000
    spans several queries per chunk. Results equal the sql scorer's."""
    from flechasdb_spark.plans import ivf

    probe_qidx, probe_pid = select_probes(model, qvecs, 4)
    sizes = dict(model.encoded.groupBy("partition_id").count().collect())
    per_query = np.bincount(
        probe_qidx, weights=[sizes.get(int(p), 0) for p in probe_pid]
    )
    # so 50 gives 64 chunks and 3000 at least four
    assert per_query.min() > 50 and per_query.sum() > 4 * 3000
    monkeypatch.setattr(ivf, "_SCORE_CHUNK_ROWS", chunk_rows)
    rows = _assert_resident_parity(model, qvecs, k=10, nprobe=4)
    assert len(rows) == 64 * 10


def test_resident_parity_k_beyond_candidates(model, qvecs):
    rows = _assert_resident_parity(model, qvecs[:3], k=10_000, nprobe=1)
    assert 0 < len(rows) < 3 * 10_000
    for q in {r[0] for r in rows}:
        ranks = [r[1] for r in rows if r[0] == q]
        assert ranks == list(range(1, len(ranks) + 1))


def test_resident_parity_ties_break_by_id(model, emb, qvecs):
    """Every vector twice (ids v and v + 10**6): equal codes, equal
    distances, so each result pair is ordered by id alone."""
    from flechasdb_spark.operators.build import assemble_index

    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select((F.col("vec_id") + 10**6).alias("vec_id"), "embedding")
    )
    m = assemble_index(doubled, model.centroids, model.codebooks, CFG)
    try:
        rows = _assert_resident_parity(m, qvecs[:4], k=10, nprobe=3)
        pairs = list(zip(rows, rows[1:]))
        # within a query, rank order is (distance, id) order
        assert all(
            (a[4], a[2]) < (b[4], b[2]) for a, b in pairs if a[0] == b[0]
        )
        assert any(a[4] == b[4] for a, b in pairs if a[0] == b[0])
    finally:
        m.encoded.unpersist()


def test_resident_parity_opq_and_lazy_centroids(
    emb, spark, qvecs, tmp_path_factory
):
    import dataclasses

    opq = build_index(emb, dataclasses.replace(CFG, balance_dims=True))
    try:
        assert opq.dim_perm is not None
        _assert_resident_parity(opq, qvecs[:16], k=5, nprobe=3)
        path = str(tmp_path_factory.mktemp("resident_lazy"))
        save_index(opq, path)
    finally:
        opq.encoded.unpersist()
    lazy = load_index(spark, path, collect_centroids=False)
    assert lazy.centroids is None
    lazy.encoded.persist()
    try:
        _assert_resident_parity(lazy, qvecs[:16], k=5, nprobe=3)
    finally:
        lazy.encoded.unpersist()


def _spark_plan(df) -> bool:
    plan = _plan_of(df)
    return "LocalTableScan" not in plan and (
        "WindowGroupLimit" in plan or "PartitionFilters: [" in plan
    )


def test_spark_plan_kept_off_the_resident_path(
    model, emb, spark, qvecs, tmp_path_factory, monkeypatch
):
    """Store-loaded, unpersisted and over-budget indexes, and where /
    rerank / round_to requests keep the distributed plan."""
    from flechasdb_spark.operators.build import assemble_index
    from flechasdb_spark.plans import ivf

    q = qvecs[:2]
    path = str(tmp_path_factory.mktemp("resident_store"))
    save_index(model, path)
    assert _spark_plan(ann_query(load_index(spark, path), q, k=5, nprobe=2))

    m = assemble_index(emb, model.centroids, model.codebooks, CFG)
    assert not _spark_plan(ann_query(m, q, k=5, nprobe=2))
    resident = [k for k in ivf._PLAN_MEMO[m.encoded] if k[0] == "resident_codes"]
    assert resident
    m.encoded.unpersist()
    assert _spark_plan(ann_query(m, q, k=5, nprobe=2))
    # the unpersisted index's driver copy is released, not kept pinned
    assert not any(k in ivf._PLAN_MEMO[m.encoded] for k in resident)

    with monkeypatch.context() as mp:
        mp.setattr(ivf, "_RESIDENT_BUDGET_BYTES", model.num_vectors * 8)
        assert _spark_plan(ann_query(model, q, k=5, nprobe=2))
    assert not _spark_plan(ann_query(model, q, k=5, nprobe=2))

    for kw in (
        {"where": F.col("label") >= 0},
        {"rerank": emb},
        {"round_to": 4},
        {"scorer": "sql"},
        {"scorer": "batch"},
    ):
        assert _spark_plan(ann_query(model, q, k=5, nprobe=2, **kw)), kw


def test_resident_request_runs_at_most_one_job(model, spark, qvecs):
    sc = spark.sparkContext
    q = qvecs[:1]
    ann_query(model, q, k=10, nprobe=4).collect()  # warm: fill done

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            ann_query(model, q, k=10, nprobe=4, **kw).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("resident-warm") <= 1
    # the group does capture this thread's jobs: the Spark plan shows
    assert jobs("resident-sql", scorer="sql") >= 1


def test_resident_fill_happens_once_under_concurrency(model, emb, qvecs,
                                                      monkeypatch):
    import sys
    import threading
    import time

    from flechasdb_spark.operators.build import assemble_index
    from flechasdb_spark.plans import ivf

    fills = []
    real = ivf._collect_codes

    def counting(*args):
        fills.append(1)
        time.sleep(0.2)  # hold the fill open while the others arrive
        return real(*args)

    monkeypatch.setattr(ivf, "_collect_codes", counting)
    m = assemble_index(emb, model.centroids, model.codebooks, CFG)
    barrier = threading.Barrier(8)
    out = [None] * 8

    def worker(i):
        barrier.wait()
        out[i] = _keyed(ann_query(m, qvecs[:4], k=5, nprobe=3).collect())

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
        m.encoded.unpersist()
    assert not any(t.is_alive() for t in threads)
    assert len(fills) == 1
    assert out[0] and all(o == out[0] for o in out)


@pytest.mark.parametrize("scorer", ["auto", "sql"])
def test_ann_query_rejects_bad_requests(model, qvecs, scorer):
    q = qvecs[:2]
    with pytest.raises(ValueError, match="query_ids"):
        ann_query(model, q, k=5, nprobe=2, query_ids=[1], scorer=scorer)
    with pytest.raises(ValueError, match="distinct"):
        ann_query(model, q, k=5, nprobe=2, query_ids=[7, 7], scorer=scorer)
    with pytest.raises(ValueError, match="distinct"):
        ann_query(model, [(1, list(q[0])), (1, list(q[1]))], k=5, nprobe=2,
                  scorer=scorer)
    with pytest.raises(ValueError, match="k 0"):
        ann_query(model, q, k=0, nprobe=2, scorer=scorer)
    with pytest.raises(ValueError, match="nprobe"):
        ann_query(model, q, k=5, nprobe=0, scorer=scorer)
    with pytest.raises(ValueError, match="nprobe"):
        ann_query(model, q, k=5, nprobe=-1, scorer=scorer)
