"""Two-phase IVF+PQ ANN query (reference Q1-Q5, SURVEY.md §3.2/§4).

Phase 1 (driver, tiny data): for a batch of Q query vectors
- exact distances to the P centroids -> nprobe probed partitions per
  query (Q1; the IVF analogue of dynamic partition pruning),
- localized query v - centroid per probe and the ADC distance table
  T[probe, d, c] = ||localized_d - codebook[d][c]||^2 (Q2).

Phase 2 (executors): scan ONLY the probed Parquet partitions
(partition pruning == the reference's lazy partition load, S3), join the
broadcast probe list, score every encoded vector with a vectorized Arrow
gather dist = sum_d T[probe, d, codes[d]] (Q3), then per-query top-k via
``row_number`` which Spark executes with WindowGroupLimit — partial
top-k before the shuffle (Q4+Q5, the reference's NBest merge).

Scale: probe list and ADC tables are O(Q * nprobe * D * C) — broadcast;
the scan shuffles only k rows per (query, partition). The reference's
async I/O-overlap machinery (A1) is Spark task parallelism.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from flechasdb_spark.functions.linalg import (
    lit_double_matrix,
    lit_doubles,
    lit_longs,
    squared_l2,
)
from flechasdb_spark.operators.build import IndexModel

__all__ = [
    "ann_query",
    "ann_range_query",
    "ann_range_query_batch",
    "select_probes",
    "select_probes_df",
    "ivf_assign",
    "ivf_flat_query",
]


import threading
import weakref

# Plan-CONSTRUCTION memo, not result caching (r13, guide §7.3 driver
# round-trips): keyed WEAKLY on the live centroid DataFrame OBJECT, it
# holds the collected O(P) centroid rows and the argmin Column built
# from them, so a lifecycle that encodes several shards against ONE
# centroid table (merge/upsert/rebalance: 2-3 ivfsq_residuals calls per
# plan build) collects once and builds the expression once. Entries die
# with the DataFrame; every bench repetition constructs fresh DataFrames,
# so nothing persists across runs or reps — the collect still happens
# inside every timed execution. (Caveat shared with Spark's own
# file-index caching: re-collecting the SAME DataFrame object after its
# underlying files were rewritten was never well-defined.)
_PLAN_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_PLAN_MEMO_LOCK = threading.Lock()


def _df_memo(df: DataFrame) -> dict:
    with _PLAN_MEMO_LOCK:
        d = _PLAN_MEMO.get(df)
        if d is None:
            d = {}
            _PLAN_MEMO[df] = d
    return d


# Driver-resident serving state of a CACHED index (the reference's
# warm path, src/db/stored.rs:262-293: partitions stay in memory after
# first use, so a query is D table lookups per candidate). Memoized in
# the same weak per-DataFrame memo: one Arrow collect per cached
# `encoded` object, dropped with it. Unlike the plan memo above this IS
# data caching, which is why it is gated on the DataFrame being
# persisted — Spark's cache already pins the same rows — and dropped by
# the first request that finds the DataFrame unpersisted.
@dataclass(frozen=True)
class _ResidentCodes:
    """Every encoded row of a cached index, grouped by partition: rows
    ``bounds[p]:bounds[p + 1]`` of ``ids``/``codes`` are partition p."""

    ids: np.ndarray  # (M,) the id column's integer dtype
    codes: np.ndarray  # (M, D) narrowest unsigned dtype holding C - 1
    bounds: np.ndarray  # (max partition id + 2,) int64 row offsets


_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
# driver memory one index's resident codes may take: num_vectors x
# (8 id + 4 partition + D code bytes). 64 MB holds ~2.4M vectors at D=16
# with one-byte codes; a larger index keeps the Spark plan.
_RESIDENT_BUDGET_BYTES = 64 << 20
# candidate rows scored per NumPy pass: bounds the (rows, D) code
# gather and its index temporaries at ~100 MB for large batches
_SCORE_CHUNK_ROWS = 1 << 21


def _code_dtype(num_codes: int) -> np.dtype:
    for dt in (np.uint8, np.uint16):
        if num_codes - 1 <= np.iinfo(dt).max:
            return np.dtype(dt)
    return np.dtype(np.uint32)


def _collect_codes(
    encoded: DataFrame, id_col: str, num_divisions: int, num_codes: int
) -> _ResidentCodes | None:
    """One Arrow job: (id, partition_id, codes) of every row, sorted by
    partition. None when a row is not representable (null id, partition
    or code, a code list of the wrong length, a code outside 0..C-1) —
    such an index keeps the Spark plan, whose semantics define those
    cases."""
    tab = encoded.select(id_col, "partition_id", "codes").toArrow()
    ids, pids, codes = (tab.column(i).combine_chunks() for i in range(3))
    if ids.null_count or pids.null_count or codes.null_count:
        return None
    flat = codes.flatten()
    lens = np.diff(codes.offsets.to_numpy())
    if flat.null_count or (lens != num_divisions).any():
        return None
    code_arr = flat.to_numpy().reshape(-1, num_divisions)
    pid_arr = pids.to_numpy().astype(np.int64)
    if len(pid_arr) and (
        pid_arr.min() < 0 or code_arr.min() < 0 or code_arr.max() >= num_codes
    ):
        return None
    order = np.argsort(pid_arr, kind="stable")
    bounds = np.zeros(int(pid_arr.max(initial=-1)) + 2, dtype=np.int64)
    np.cumsum(np.bincount(pid_arr), out=bounds[1:])
    return _ResidentCodes(
        ids=ids.to_numpy()[order],
        codes=code_arr[order].astype(_code_dtype(num_codes)),
        bounds=bounds,
    )


def _resident_codes(model: IndexModel) -> _ResidentCodes | None:
    """The driver-resident codes of ``model`` when its index may be
    served from the driver, else None. Eligible: ``encoded`` persisted,
    integral ids, and ``num_vectors x (8 + 4 + code bytes)`` within
    ``_RESIDENT_BUDGET_BYTES``. The first eligible call collects;
    concurrent first calls wait for that one collect instead of starting
    their own. A call on an unpersisted ``encoded`` releases the copy."""
    enc, cfg = model.encoded, model.config
    key = ("resident_codes", cfg.id_col, cfg.num_divisions, cfg.num_codes)
    if not enc.is_cached:
        _PLAN_MEMO.get(enc, {}).pop(key, None)
        return None
    if not isinstance(enc.schema[cfg.id_col].dataType, _INTEGRAL):
        return None
    row_bytes = 8 + 4 + cfg.num_divisions * _code_dtype(cfg.num_codes).itemsize
    if model.num_vectors * row_bytes > _RESIDENT_BUDGET_BYTES:
        return None
    memo = _df_memo(enc)
    if key not in memo:
        with memo.setdefault("resident_lock", threading.Lock()):
            if key not in memo:
                memo[key] = _collect_codes(
                    enc, cfg.id_col, cfg.num_divisions, cfg.num_codes
                )
    return memo[key]


def _score_resident(
    res: _ResidentCodes,
    tables: np.ndarray,
    probe_qidx: np.ndarray,
    probe_pid: np.ndarray,
    q_n: int,
    k: int,
) -> tuple[np.ndarray, ...]:
    """Per-query top-k over the resident codes of every probed
    partition: (query position, id, partition_id, distance, rank).

    The ADC sum is the left fold ``s = T[0, c0]; s += T[d, cd]`` in
    division order — the order of the sql scorer's ``aggregate`` — so
    distances are bit-identical to it; ranking is (distance, id) like
    the Spark window. ``probe_qidx`` must be grouped by query in
    ascending order (both Phase-1 forms emit it so). Queries are scored
    in chunks of about ``_SCORE_CHUNK_ROWS`` candidates."""
    n_parts = len(res.bounds) - 1
    starts = res.bounds[np.minimum(probe_pid, n_parts)]
    lens = res.bounds[np.minimum(probe_pid + 1, n_parts)] - starts
    # probe offset of each query, candidates before each probe
    q_first = np.searchsorted(probe_qidx, np.arange(q_n + 1))
    before = np.concatenate([[0], np.cumsum(lens)])[q_first]
    d_n, c_n = tables.shape[1:]
    flat = tables.reshape(-1)
    parts = []
    q0 = 0
    while q0 < q_n:
        q1 = max(
            q0 + 1,
            int(np.searchsorted(before, before[q0] + _SCORE_CHUNK_ROWS, "right"))
            - 1,
        )
        a, b = q_first[q0], q_first[q1]
        q0 = q1
        ln = lens[a:b]
        n = int(ln.sum())
        if n == 0:
            continue
        tix = np.repeat(np.arange(a, b), ln)
        rows = np.arange(n) + np.repeat(starts[a:b] - (np.cumsum(ln) - ln), ln)
        cand = res.codes[rows]
        base = tix * (d_n * c_n)
        s = flat[base + cand[:, 0]]
        for d in range(1, d_n):
            s += flat[base + (d * c_n) + cand[:, d]]
        qpos = probe_qidx[tix]
        ids = res.ids[rows]
        order = np.lexsort((ids, s, qpos))
        sorted_q = qpos[order]
        rank = np.arange(n) - np.searchsorted(sorted_q, sorted_q)
        keep = rank < k
        sel = order[keep]
        parts.append(
            (qpos[sel], ids[sel], probe_pid[tix[sel]], s[sel], rank[keep] + 1)
        )
    if not parts:
        return (
            np.empty(0, np.int64),
            res.ids[:0],
            np.empty(0, np.int64),
            np.empty(0),
            np.empty(0, np.int64),
        )
    return tuple(np.concatenate(c) for c in zip(*parts))


def _local_result(
    model: IndexModel, qids: list[int], scored: tuple[np.ndarray, ...]
) -> DataFrame:
    """The Spark path's result (schema included) as an Arrow-backed
    local relation: collecting it runs no Spark job."""
    import pyarrow as pa

    qpos, ids, pids, dist, rank = scored
    fields = model.encoded.schema
    id_field = fields[model.config.id_col]
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vector_id", id_field.dataType, id_field.nullable),
            StructField(
                "partition_id", IntegerType(), fields["partition_id"].nullable
            ),
            StructField("squared_distance", DoubleType()),
            StructField("rank", IntegerType(), False),
        ]
    )
    table = pa.Table.from_arrays(
        [
            pa.array(np.asarray(qids, dtype=np.int64)[qpos]),
            pa.array(ids),
            pa.array(pids.astype(np.int32)),
            pa.array(dist),
            pa.array(rank.astype(np.int32)),
        ],
        names=schema.names,
    )
    return model.encoded.sparkSession.createDataFrame(table, schema=schema)


def _small_centroid_rows(
    centroids: DataFrame, pid_col: str, cent_col: str
):
    """ALL (pid, centroid) rows when the table is literal-sized, else
    None (huge-P fallback). One tiny job: ``limit(cap + 1)`` bounds
    what ever reaches the driver, and getting cap + 1 rows back (or a
    P x dim element count past the budget) means the table is too big
    for a plan literal — the caller keeps the broadcast-join form.
    A non-integral id column also returns None (ADVICE r12: the
    literal path coerces ids through int(), which would raise — or
    reorder ties — where the broadcast-join form worked), so the
    relational fallback keeps its exact semantics."""
    import os as _os

    max_elems = int(
        _os.environ.get("SPARK_GRAFT_ASSIGN_LITERAL_MAX", "65536")
    )
    memo = _df_memo(centroids)
    # the env budget is part of the key: tests flip it as a kill switch
    key = ("rows", pid_col, cent_col, max_elems)
    if key in memo:
        return memo[key]
    rows = None
    if isinstance(centroids.schema[pid_col].dataType, _INTEGRAL):
        cap = min(max_elems, 4096)
        rows = centroids.select(pid_col, cent_col).limit(cap + 1).collect()
        if (
            not rows
            or len(rows) > cap
            or len(rows) * len(rows[0][cent_col]) > max_elems
        ):
            rows = None
    memo[key] = rows
    return rows


def _let(value, body):
    """Single-evaluation let-binding for expression trees: bind
    ``value`` to a higher-order-function lambda variable so ``body``
    can reference it any number of times while it is evaluated ONCE
    per row. Plain column expressions have no sharing — every
    reference duplicates the tree, and project-collapse can duplicate
    even single-use aliases past a passthrough (measured on the cosine
    fixture: the interpreted normalize() ran twice per row). A lambda
    variable is the one Catalyst construct with guaranteed
    evaluate-once semantics."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _cent_array_lit(rows):
    """The collected centroid vectors as ONE array<array<double>> plan
    literal, positionally aligned with ``rows`` (r13: built row-wise
    from numpy arrays — O(P) py4j calls and plan nodes instead of
    O(P x dim), see `lit_double_matrix`; values bit-identical)."""
    return lit_double_matrix([r[1] for r in rows])


def _assign_best_expr(
    rows, vec_col: str, carry_index: bool = False, pid_type: str = "int"
):
    """struct(d, p[, i]) of the nearest centroid as a PURE map
    expression: the P centroids ride as two plan literals (ids +
    vectors), per-row distance is the same `squared_l2` double fold the
    relational form computes, and `array_min` over struct(d, p, ...) is
    the identical (dist asc, pid asc) tie-break as
    ``min(struct(d, p))`` — pid is unique, so trailing fields never
    participate. ``carry_index`` adds the centroid's literal POSITION
    so callers can fetch the winning vector with one ``element_at``
    instead of copying the full centroid array into every candidate
    struct (measured: carrying the array cost ~0.3-0.5 s per corpus
    evaluation at bench scale — P x dim doubles materialized per row
    just to keep the winner's). ``pid_type`` is the centroid table's
    actual id dtype (ADVICE r12: the former hardcoded int cast could
    truncate bigint ids and made the literal path's output schema
    diverge from the relational fallback's)."""
    pids_lit = lit_longs([r[0] for r in rows])
    cents_lit = _cent_array_lit(rows)

    def _lam(c, i):
        fields = [
            squared_l2(F.col(vec_col), c).alias("d"),
            F.element_at(pids_lit, i + 1).cast(pid_type).alias("p"),
        ]
        if carry_index:
            fields.append(i.alias("i"))
        return F.struct(*fields)

    return F.array_min(F.transform(cents_lit, _lam))


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pid_col: str = "partition_id",
    cent_col: str = "centroid",
    impl: str = "auto",
) -> DataFrame:
    """B6 (coarse assignment): nearest centroid per vector.

    ``impl="auto"`` (r12, guide §2.4 "remove shuffles outright"): when
    the centroid table is driver-small (P x dim under
    $SPARK_GRAFT_ASSIGN_LITERAL_MAX elements, default 65536), collect
    it ONCE (O(P) rows — the same driver footprint `select_probes`
    already assumes) and compute the argmin as a map-only codegen
    expression over a plan literal: the corpus is never shuffled and
    the broadcast exchange disappears. Distances, fold order and the
    (dist asc, pid asc) tie-break are IDENTICAL to the relational form
    (equality pytest-gated), so results are unchanged.

    ``impl="relational"`` keeps the former shape — broadcast join +
    per-vector argmin as a ``min(struct(dist, pid))`` aggregation
    (map-side combine collapses the P-way blowup before the shuffle,
    so the exchange carries one row per vector) — and is the automatic
    fallback when the centroid table is too large for a literal
    (huge-P indexes: P ~ sqrt(M)). Oracle-checkable with any fixed
    centroid table; the sample-trained fused path in
    operators/build.py is the production variant."""
    if impl not in ("auto", "literal", "relational"):
        raise ValueError(f"unknown impl: {impl!r}")
    other_cols = [c for c in vectors.columns if c != id_col]
    if impl != "relational":
        rows = _small_centroid_rows(centroids, pid_col, cent_col)
        if rows is None and impl == "literal":
            raise ValueError(
                "centroid table too large for impl='literal' — raise "
                "SPARK_GRAFT_ASSIGN_LITERAL_MAX or use impl='relational'"
            )
        if rows is not None:
            pid_type = centroids.schema[pid_col].dataType.simpleString()
            memo = _df_memo(centroids)
            bkey = ("assign_best", vec_col, pid_type)
            best = memo.get(bkey)
            if best is None:
                # Column expressions are immutable and resolve by name,
                # so the SAME argmin expression serves every shard
                # encoded against this centroid table (construction is
                # hundreds of py4j round-trips — see _PLAN_MEMO note)
                best = _assign_best_expr(rows, vec_col, pid_type=pid_type)
                memo[bkey] = best
            return vectors.select(
                id_col, *other_cols, best["p"].alias(pid_col)
            )
    pairs = vectors.join(F.broadcast(centroids))
    dist = squared_l2(F.col(vec_col), F.col(cent_col))
    return (
        pairs.groupBy(id_col)
        .agg(
            F.min(F.struct(dist.alias("d"), F.col(pid_col).alias("p"))).alias(
                "__m"
            ),
            *[F.first(c).alias(c) for c in other_cols],
        )
        .select(id_col, *other_cols, F.col("__m.p").alias(pid_col))
    )


def ivf_flat_query(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vector: list[float],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """IVF-Flat search, fully relational (Q1 + S3 + Q3-exact + Q4/Q5):
    probe the nprobe nearest centroids, scan only vectors assigned to the
    probed partitions, exact distance within candidates, global top-k.

    Assignment is computed inline here (so the whole query is
    oracle-checkable end to end); the probe cut is a LITERAL isin from
    the collected O(nprobe) probe ids — on an index at rest
    partitioned by partition_id the same literal lands in the Parquet
    PartitionFilters (a lazy probe-DataFrame semi-join never does —
    DPP doesn't fire on that shape; see plans/ivfsq.py r8 note)."""
    from flechasdb_spark.operators.knn import flat_knn

    probe_ids = [
        int(r["partition_id"])
        for r in flat_knn(
            centroids,
            query_vector,
            k=nprobe,
            id_col="partition_id",
            vec_col=cent_col_name(centroids),
        ).collect()
    ]
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    candidates = assigned.where(F.col("partition_id").isin(probe_ids))
    qv = lit_doubles(query_vector).cast("array<float>")
    dist = squared_l2(F.col(vec_col), qv)
    out = (
        candidates.select(
            F.col(id_col),
            F.col("partition_id"),
            dist.alias("__d"),
        )
        .orderBy(F.col("__d").asc(), F.col(id_col).asc())
        .limit(k)
    )
    score = F.round(F.col("__d"), round_to) if round_to is not None else F.col("__d")
    return out.select(id_col, "partition_id", score.alias("squared_distance"))


def cent_col_name(centroids: DataFrame) -> str:
    return "centroid" if "centroid" in centroids.columns else centroids.columns[-1]


def _check_nprobe(nprobe: int, p: int) -> None:
    # nprobe < 1 would slice argsort[:, :nprobe] from the END (-1
    # silently probes P - 1 cells); > P matches the reference's error
    # (src/db/stored.rs:403-409)
    if nprobe < 1:
        raise ValueError(f"nprobe {nprobe} must be at least 1")
    if nprobe > p:
        raise ValueError(f"nprobe {nprobe} exceeds num_partitions {p}")


def _parse_queries(
    queries: list[tuple[int, list[float]]] | np.ndarray,
    query_ids: list[int] | None,
) -> tuple[np.ndarray, list[int]]:
    """(Q, N) float64 queries and their Q distinct ids. Ids are the
    per-query grouping key of every result, so a length mismatch or a
    repeated id would silently merge or drop queries' results."""
    if isinstance(queries, np.ndarray):
        qarr = queries.astype(np.float64)
        qids = list(query_ids) if query_ids is not None else list(range(len(qarr)))
        if len(qids) != len(qarr):
            raise ValueError(
                f"{len(qids)} query_ids for {len(qarr)} query vectors"
            )
    else:
        qids = [int(q[0]) for q in queries]
        qarr = np.array([q[1] for q in queries], dtype=np.float64)
    if len(set(qids)) != len(qids):
        raise ValueError("query ids must be distinct")
    return qarr, qids


def select_probes(
    model: IndexModel, queries: np.ndarray, nprobe: int
) -> tuple[np.ndarray, np.ndarray]:
    """Q1: per query, the nprobe nearest partitions by exact squared L2.

    Returns (probe_qidx [Q*nprobe], probe_pid [Q*nprobe]); errors when
    nprobe is outside 1..P.
    """
    p = model.centroids.shape[0]
    _check_nprobe(nprobe, p)
    # dimension-major accumulation (d2 += diff^2 per dim) — the exact
    # left-fold the engine's squared_l2 aggregate performs, so near-tie
    # centroid distances order IDENTICALLY to select_probes_df and the
    # SQ side's driver path (VERDICT r9 #7; the former algebraic
    # expansion ||c||^2 - 2 q.c could flip probed cells on ties because
    # its rounding path differs from the engine fold — parity is
    # tie-fixture-gated in tests/test_plans.py). ADVICE r10: the fold
    # runs in-place over ONE preallocated (chunk, P) buffer (np.subtract
    # /multiply/add with out=) instead of allocating a fresh (Q, P)
    # temporary per dimension, and queries are chunked so the working
    # set stays bounded at huge P — per-element FP op order (subtract,
    # square, add, in dimension order) is unchanged, so tie parity
    # holds bit-for-bit.
    q_n = queries.shape[0]
    scores = np.empty((q_n, p))
    # ~4M doubles (32 MB) per buffer; chunking across queries cannot
    # change any element's accumulation order (elements are independent)
    chunk = max(1, min(q_n, 4_000_000 // max(1, p)))
    buf = np.empty((chunk, p))
    for s in range(0, q_n, chunk):
        e = min(s + chunk, q_n)
        acc = scores[s:e]
        acc[:] = 0.0
        b = buf[: e - s]
        for j in range(queries.shape[1]):
            np.subtract(
                queries[s:e, j, None], model.centroids[None, :, j], out=b
            )
            np.multiply(b, b, out=b)
            np.add(acc, b, out=acc)
    probed = np.argsort(scores, axis=1, kind="stable")[:, :nprobe]  # (Q, nprobe)
    q_idx = np.repeat(np.arange(q_n), nprobe)
    return q_idx, probed.ravel()


def select_probes_df(
    centroids_df: DataFrame,
    queries: np.ndarray,
    nprobe: int,
    query_ids: list[int] | None = None,
) -> DataFrame:
    """Q1 as a DISTRIBUTED job, for indexes whose centroid table is too
    large to collect (P ~ sqrt(M) reaches ~3e5 x 1536 floats ≈ 2 GB at
    M = 1e11 — SCALING.md's one driver-side Phase-1 assumption).

    The Q queries (always the small side) are broadcast against the
    centroid table; per-(query, centroid) exact squared L2, then
    per-query top-nprobe via ``row_number`` — Spark executes the window
    with WindowGroupLimit, so each scan task forwards at most nprobe
    rows per query to the exchange: the shuffle carries O(Q * nprobe *
    tasks), never O(Q * P). Tie-break (distance asc, partition_id asc)
    matches ``select_probes``'s stable argsort.

    Returns (query_id, partition_id, probe_rank, centroid): O(Q*nprobe)
    rows — the only part of the centroid table Phase 2 ever needs,
    because the ADC tables are built from probed centroids only.
    Reference Q1: /root/reference/src/db/stored.rs:394-442.
    """
    spark = centroids_df.sparkSession
    qids = (
        list(query_ids)
        if query_ids is not None
        else list(range(queries.shape[0]))
    )
    qdf = spark.createDataFrame(
        [
            (int(q), [float(x) for x in v])
            for q, v in zip(qids, np.asarray(queries, dtype=np.float64))
        ],
        "query_id long, __qv array<double>",
    )
    cent = cent_col_name(centroids_df)
    dist = squared_l2(F.col(cent).cast("array<double>"), F.col("__qv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("partition_id").asc()
    )
    return (
        centroids_df.join(F.broadcast(qdf))
        .select("query_id", "partition_id", F.col(cent), dist.alias("__d"))
        .withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select(
            "query_id",
            "partition_id",
            "probe_rank",
            F.col(cent).alias("centroid"),
        )
    )


def _adc_tables(
    model: IndexModel,
    queries: np.ndarray,
    probe_qidx: np.ndarray,
    probe_pid: np.ndarray,
    probe_centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Q2: T[i, d, c] for each probe i = (query, partition) pair.
    ``probe_centroids`` (QP, N) supplies the probed centroids directly
    when the full (P, N) table is not on the driver (lazy mode)."""
    d, c, w = model.codebooks.shape
    cent = (
        probe_centroids
        if probe_centroids is not None
        else model.centroids[probe_pid]
    )
    localized = queries[probe_qidx] - cent  # (QP, N)
    if model.dim_perm is not None:
        # OPQ-style split: codes quantize the PERMUTED residual, so the
        # ADC table must be built from the same reordering
        localized = localized[:, np.asarray(model.dim_perm, dtype=int)]
    sub = localized.reshape(-1, d, w)  # (QP, D, w)
    # (QP, D, C): sum over w of (sub - cb)^2
    diff = sub[:, :, None, :] - model.codebooks[None, :, :, :]
    return np.einsum("qdcw,qdcw->qdc", diff, diff)


def _phase1(
    model: IndexModel,
    qarr: np.ndarray,
    qids: list[int],
    nprobe: int,
    mark=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Shared Phase 1 of every PQ serving path (top-k and radius):
    probe selection — driver-side `select_probes` when the centroid
    table is collected, the distributed `select_probes_df` job in
    huge-P lazy mode — followed by the broadcast ADC tables. Returns
    (probe_qidx, probe_pid, tables)."""
    spark = model.encoded.sparkSession
    if model.centroids is None:
        # lazy-centroid serving mode (huge P): Phase 1 is a Spark job;
        # only the O(Q * nprobe) probed (query, partition, centroid)
        # rows are collected, never the full (P, N) table.
        _check_nprobe(nprobe, model.config.num_partitions)
        rows = select_probes_df(
            model.centroids_df(spark), qarr, nprobe, query_ids=qids
        ).collect()
        qpos_map = {int(q): i for i, q in enumerate(qids)}
        rows.sort(key=lambda r: (qpos_map[r.query_id], r.probe_rank))
        probe_qidx = np.array([qpos_map[r.query_id] for r in rows], dtype=int)
        probe_pid = np.array([r.partition_id for r in rows], dtype=int)
        probe_cent = np.array([r.centroid for r in rows], dtype=np.float64)
        if mark is not None:
            mark("select_probes")
        tables = _adc_tables(
            model, qarr, probe_qidx, probe_pid, probe_centroids=probe_cent
        )
    else:
        probe_qidx, probe_pid = select_probes(model, qarr, nprobe)
        if mark is not None:
            mark("select_probes")
        tables = _adc_tables(model, qarr, probe_qidx, probe_pid)  # (QP, D, C)
    if mark is not None:
        mark("adc_tables")
    return probe_qidx, probe_pid, tables


def ann_query(
    model: IndexModel,
    queries: list[tuple[int, list[float]]] | np.ndarray,
    k: int,
    nprobe: int,
    query_ids: list[int] | None = None,
    round_to: int | None = None,
    where=None,
    scorer: str = "auto",
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    on_event=None,
) -> DataFrame:
    """Batch IVF+PQ kNN. ``queries``: [(query_id, vector), ...] or an
    (Q, N) array with ``query_ids``. Returns (query_id, vector_id,
    partition_id, squared_distance, rank) — the reference's QueryResult
    shape (/root/reference/src/db/build.rs:577-587) plus batch columns.
    Query ids must be distinct (and, with an array, one per row); ``k``
    and ``nprobe`` must be at least 1 — anything else raises ValueError.

    Serving paths. A request with ``scorer="auto"`` and no ``where``,
    ``rerank`` or ``round_to`` on an index whose ``encoded`` DataFrame
    is persisted (``build_index`` persists it; ``load_index`` does
    not), whose ids are integral and whose codes fit a fixed 64 MB
    driver budget (``num_vectors x (12 + D code bytes)``) is served
    from the driver: the first such request collects (id, partition_id,
    codes) once in one Arrow job, and every later one scores its probed
    partitions in NumPy and returns an Arrow-backed local relation —
    no scan, window or shuffle, no Spark job when collected. Ids,
    distances (the sql scorer's fold order, bit for bit), ranks and
    schema equal the ``scorer="sql"`` plan's. Every other request runs
    the Spark plan below; ``encoded.unpersist()`` or an explicit
    ``scorer`` selects it, and the first such request after
    ``unpersist()`` releases the driver copy.

    ``where``: optional filtered-search predicate (Column or SQL string)
    over the index's attribute columns, applied to candidates BEFORE
    scoring — pre-filtering, so each query still returns up to k rows
    that all satisfy the predicate (no reference counterpart; free in
    Spark because attributes live on the encoded rows).

    ``scorer``: "sql" gathers the ADC table with pure Catalyst
    expressions — the table travels as a column of the broadcast probe
    row, keeping the scan inside whole-stage codegen. "pandas" keeps
    the tables in a Spark broadcast and gathers with NumPy per row
    (only probe_idx + codes cross Arrow). "batch" scores whole Arrow
    batches in NumPy via mapInPandas AND applies a batch-local top-k
    with the same (rounded score, id) order as the global window, so
    the rank shuffle sees O(Q * k * batches) rows instead of every
    scored candidate. "auto" (default) picks by total table size: the
    sql form copies the D*C array into every joined row, so past ~100k
    table doubles the batch form wins (measured at 200k vectors,
    Q=100, D=16, C=64: sql 66 s, pandas 20 s, batch ~6 s; at bench
    scale sql wins by the reverse margin). All scorers agree under the
    rounded-score contract (tested).

    ``on_event(stage, seconds)`` mirrors the reference's query event
    handlers (/root/reference/src/db/stored.rs:513-532): fired after the
    driver phases ``select_probes`` and ``adc_tables`` and after
    ``plan_built`` — instrumentation only (the Spark plan's scan is
    lazy; time it at the action with Spark's UI/listeners; on the
    driver path ``plan_built`` covers the scoring itself).

    ``rerank``: optional DataFrame holding the ORIGINAL vectors
    (cfg.id_col, cfg.vec_col). When given, the top ``k * rerank_factor``
    ADC candidates per query are re-scored with the EXACT squared L2
    against the original vectors and the final top-k is by exact
    distance — the standard IVF+PQ refinement step that lifts recall
    from PQ-approximation levels to near-exact. Scale shape: the
    candidate set is O(Q * k * rerank_factor) rows — broadcast into one
    hash-join against the vector table (one scan, no shuffle of the big
    side); ``squared_distance`` then holds the exact distance.

    ``rerank="stored"``: FUSED refinement for indexes built with
    ``IndexConfig(keep_vectors=True)`` (original vectors stored on the
    encoded rows). The batch scorer computes the exact distance for its
    batch-local ADC top-``k * rerank_factor`` survivors inside the SAME
    mapInPandas pass over the pruned partitions — no second table, no
    second scan, no join; the global ADC cut then picks exactly the
    same candidate set as the join form (both cut by rounded ADC score,
    id), so results are identical. This is the right shape when the
    re-rank source would otherwise be a full scan of the vector corpus.
    """
    qarr, qids = _parse_queries(queries, query_ids)
    if qarr.ndim != 2 or qarr.shape[1] != model.vector_size:
        raise ValueError(
            f"query width {qarr.shape} != vector_size {model.vector_size}"
        )
    if k < 1:
        raise ValueError(f"k {k} must be at least 1")

    import time as _time

    _t0 = {"t": _time.perf_counter()}

    def _mark(stage: str) -> None:
        if on_event is not None:
            on_event(stage, _time.perf_counter() - _t0["t"])
        _t0["t"] = _time.perf_counter()

    spark = model.encoded.sparkSession
    probe_qidx, probe_pid, tables = _phase1(
        model, qarr, qids, nprobe, mark=_mark
    )
    if scorer == "auto" and where is None and rerank is None and round_to is None:
        res = _resident_codes(model)
        if res is not None:
            result = _local_result(
                model,
                qids,
                _score_resident(res, tables, probe_qidx, probe_pid, len(qids), k),
            )
            _mark("plan_built")
            return result

    d = model.config.num_divisions
    id_col = model.config.id_col
    vec_col = model.config.vec_col
    adc_k = k * rerank_factor if rerank is not None else k

    fused = isinstance(rerank, str)
    if fused:
        if rerank != "stored":
            raise ValueError(f"unknown rerank mode: {rerank!r}")
        if vec_col not in model.encoded.columns:
            raise ValueError(
                "rerank='stored' needs the original vectors on the encoded "
                "rows — build with IndexConfig(keep_vectors=True)"
            )
        if scorer == "auto":
            scorer = "batch"
        elif scorer != "batch":
            raise ValueError("rerank='stored' requires scorer='batch'")
    if scorer == "auto":
        scorer = "batch" if tables.size > 100_000 else "sql"
    if scorer == "sql":
        # the ADC table rides ON the broadcast probe row as
        # array<array<double>> (D x C, ~8 KB per probe); the per-vector
        # gather dist = sum_d tbl[d][codes[d]] is a pure Catalyst
        # expression -> whole-stage codegen, no Python in the scan.
        probes_df = F.broadcast(
            spark.createDataFrame(
                [
                    (
                        int(qids[qi]),
                        int(pid),
                        [[float(v) for v in row] for row in tables[i]],
                    )
                    for i, (qi, pid) in enumerate(zip(probe_qidx, probe_pid))
                ],
                "query_id long, partition_id int, __tbl array<array<double>>",
            )
        )
        score_expr = F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("__tbl"),
                lambda code, row: F.element_at(row, code + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    elif scorer == "pandas":
        sc = spark.sparkContext
        b_tables = sc.broadcast(tables)
        probes_df = F.broadcast(
            spark.createDataFrame(
                [
                    (int(qids[qi]), int(pid), int(i))
                    for i, (qi, pid) in enumerate(zip(probe_qidx, probe_pid))
                ],
                "query_id long, partition_id int, probe_idx int",
            )
        )

        @F.pandas_udf("double")
        def adc_score(probe_idx: pd.Series, codes: pd.Series) -> pd.Series:
            t = b_tables.value  # (QP, D, C)
            pi = probe_idx.to_numpy()
            cd = np.stack(codes.to_numpy())  # (batch, D)
            return pd.Series(
                t[pi[:, None], np.arange(d)[None, :], cd].sum(axis=1)
            )

        score_expr = adc_score(F.col("probe_idx"), F.col("codes"))
    elif scorer != "batch":
        raise ValueError(f"unknown scorer: {scorer}")

    probed_pids = [int(x) for x in np.unique(probe_pid)]
    candidates = model.encoded.where(
        # partition pruning: only probed directories are read (S3)
        F.col("partition_id").isin(probed_pids)
    )
    if where is not None:
        candidates = candidates.where(where)
    if scorer == "batch":
        # whole-batch NumPy scoring + BATCH-LOCAL top-k inside the UDF:
        # for each Arrow batch, score every (probing query, row) pair
        # with one vectorized gather and keep only the adc_k best rows
        # per query by the same (rounded score, id) order the global
        # window uses — union of per-batch top-k provably contains the
        # global top-k, so the window input shrinks from
        # O(rows * probes/partition) to O(Q * adc_k * batches).
        sc = spark.sparkContext
        b_tables = sc.broadcast(tables)
        by_pid: dict[int, list[tuple[int, int]]] = {}
        qpos = {int(q): i for i, q in enumerate(qids)}
        for i, (qi, pid) in enumerate(zip(probe_qidx, probe_pid)):
            by_pid.setdefault(int(pid), []).append((int(qids[qi]), int(i)))
        b_probes = sc.broadcast(by_pid)
        b_queries = sc.broadcast((qarr, qpos)) if fused else None
        id_type = model.encoded.schema[id_col].dataType.simpleString()
        out_schema = (
            f"query_id long, {id_col} {id_type}, "
            "partition_id int, __score double"
        ) + (", __exact double" if fused else "")
        cut, rt, dd = adc_k, round_to, d
        in_cols = [id_col, "partition_id", "codes"] + (
            [vec_col] if fused else []
        )
        vcol = vec_col

        def score_partition(batches):
            t = b_tables.value
            probes = b_probes.value
            qv, qp = b_queries.value if b_queries is not None else (None, None)
            ar = np.arange(dd)
            for pdf in batches:
                if pdf.empty:
                    continue
                outs = []
                for pid, grp in pdf.groupby("partition_id"):
                    plist = probes.get(int(pid))
                    if not plist:
                        continue
                    cd = np.vstack(grp["codes"].to_numpy())
                    vids = grp[id_col].to_numpy()
                    embs = (
                        np.vstack(grp[vcol].to_numpy()).astype(np.float64)
                        if qv is not None
                        else None
                    )
                    for query_id, pi in plist:
                        s = t[pi, ar[None, :], cd].sum(axis=1)
                        rs = np.round(s, rt) if rt is not None else s
                        sel = (
                            np.lexsort((vids, rs))[:cut]
                            if len(s) > cut
                            else np.arange(len(s))
                        )
                        cols = {
                            "query_id": query_id,
                            id_col: vids[sel],
                            "partition_id": int(pid),
                            "__score": s[sel],
                        }
                        if embs is not None:
                            # fused refinement: exact squared L2 for the
                            # batch-local ADC survivors only — O(cut * N)
                            # per probe, in the same Arrow pass
                            diff = embs[sel] - qv[qp[query_id]]
                            cols["__exact"] = np.einsum(
                                "ij,ij->i", diff, diff
                            )
                        outs.append(pd.DataFrame(cols))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        scored = candidates.select(*in_cols).mapInPandas(
            score_partition, out_schema
        )
    else:
        scored = (
            candidates.join(probes_df, "partition_id")
            .withColumn("__score", score_expr)
            # project IMMEDIATELY: the probe row carries the D x C ADC
            # table (~8 KB) and the candidate row its codes — letting
            # either reach the top-k window would put them on the rank
            # shuffle. Only 4 small columns may survive scoring.
            .select("query_id", id_col, "partition_id", "__score")
        )
    # With round_to set, RANKING uses the rounded score (ties by id) —
    # the determinism contract: unrounded ADC sums differ across engines
    # in the last ulp (summation order), so only the rounded value is a
    # stable sort key for oracle comparison (SURVEY.md §2.4 tie-breaks).
    rank_score = (
        F.round(F.col("__score"), round_to)
        if round_to is not None
        else F.col("__score")
    )
    w = Window.partitionBy("query_id").orderBy(
        rank_score.asc(), F.col(id_col).asc()
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= adc_k
    )
    if fused:
        # exact scores already computed in-scan for every candidate that
        # could survive the global ADC cut; swap them in and re-rank.
        # Both windows hash-partition by query_id, so the second one
        # reuses the first's exchange (sort-only within partitions).
        topk = topk.select(
            "query_id",
            id_col,
            "partition_id",
            F.col("__exact").alias("__score"),
        ).withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    elif rerank is not None:
        qdf = F.broadcast(
            spark.createDataFrame(
                [(int(q), [float(x) for x in v]) for q, v in zip(qids, qarr)],
                "query_id long, __qv array<float>",
            )
        )
        cand = topk.select("query_id", id_col, "partition_id")
        exact = (
            rerank.select(id_col, model.config.vec_col)
            .join(F.broadcast(cand), id_col)
            .join(qdf, "query_id")
            .withColumn(
                "__score", squared_l2(F.col(model.config.vec_col), F.col("__qv"))
            )
        )
        topk = exact.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
    out_score = (
        F.round(F.col("__score"), round_to)
        if round_to is not None
        else F.col("__score")
    )
    result = topk.select(
        "query_id",
        F.col(id_col).alias("vector_id"),
        "partition_id",
        out_score.alias("squared_distance"),
        "rank",
    )
    _mark("plan_built")
    return result


def ann_range_query_batch(
    model: IndexModel,
    queries: list[tuple[int, list[float]]] | np.ndarray,
    radius: float,
    nprobe: int,
    query_ids: list[int] | None = None,
    round_to: int | None = None,
    where=None,
    limit_per_query: int | None = None,
    scorer: str = "auto",
    rerank: DataFrame | None = None,
    rerank_slack: float = 1.5,
) -> DataFrame:
    """Batch RADIUS search over the IVF+PQ index — `ann_query`'s
    serving shape with a FILTER tail instead of top-k (the FAISS
    ``IndexIVFPQ::range_search`` contract; the reference itself serves
    top-k only, /root/reference/src/db/stored.rs:331-389, so this is
    extension-surface parity with the SQ side's
    `plans.ivfsq.ivfsq_range_query_batch`): every candidate in each
    query's ``nprobe`` probed cells whose ADC distance is <= ``radius``.
    Returns ``(query_id, vector_id, partition_id, squared_distance)``
    plus ``rank`` when ``limit_per_query`` caps a pathological radius
    to each query's nearest matches.

    Phase 1 (probe selection + broadcast ADC tables) is shared with
    `ann_query`, INCLUDING the huge-P lazy-centroid mode — on an index
    loaded with ``collect_centroids=False`` the probe phase composes
    `select_probes_df` and collects only the O(Q * nprobe) winners.
    Phase 2 scans ONLY the probed ``partition_id=`` directories (the
    literal isin lands in the Parquet PartitionFilters at rest), and
    the radius cut happens AT THE SCAN — with the "sql" scorer it is a
    codegen'd filter over the gathered ADC sum, with the "batch"
    scorer the Arrow kernel emits only matching rows — so the only
    rows that ever reach an exchange are the matches (the property
    that makes radius search safe at 100 TB: shuffle volume is
    |result|, never |scanned|).

    ``round_to`` rounds the emitted distance AND applies the filter to
    the rounded value (the frozen-row convention — a boundary member
    differing only in sub-round noise cannot hash-flip across
    engines); when ``limit_per_query`` is set the per-query rank also
    orders by the rounded value with id tie-break. ``where``
    pre-filters candidates BEFORE scoring (the shared filtered-search
    mode). Neighbors in unprobed cells are missed — the standard IVF
    recall trade, dialed by nprobe; distances are PQ-approximate like
    every ADC path.

    ``rerank``/``rerank_slack`` (r10): EXACT radius semantics at index
    cost — the ADC scan keeps everything within ``radius *
    rerank_slack`` (slack absorbs quantization error both ways), one
    broadcast join of those O(matches) survivors against the ORIGINAL
    vectors in ``rerank``, and the final filter applies ``radius`` to
    the exact (rounded) distance. Residual misses are only true
    members whose ADC distance exceeds the slack band — widen
    ``rerank_slack`` to trade scan volume for that tail."""
    qarr, qids = _parse_queries(queries, query_ids)
    spark = model.encoded.sparkSession
    id_col = model.config.id_col
    id_type = model.encoded.schema[id_col].dataType.simpleString()
    if not qids:
        # empty batch: the contract schema, rank included iff the
        # non-empty path would carry it (the ivfsq ADVICE r9 #3 rule)
        schema = (
            f"query_id long, vector_id {id_type}, partition_id int, "
            "squared_distance double"
        )
        if limit_per_query is not None:
            schema += ", rank int"
        return spark.createDataFrame([], schema)
    if qarr.ndim != 2 or qarr.shape[1] != model.vector_size:
        raise ValueError(
            f"query width {qarr.shape} != vector_size {model.vector_size}"
        )
    probe_qidx, probe_pid, tables = _phase1(model, qarr, qids, nprobe)
    d = model.config.num_divisions
    if scorer == "auto":
        scorer = "batch" if tables.size > 100_000 else "sql"

    probed_pids = [int(x) for x in np.unique(probe_pid)]
    candidates = model.encoded.where(
        F.col("partition_id").isin(probed_pids)
    )
    if where is not None:
        candidates = candidates.where(where)
    if scorer == "sql":
        probes_df = F.broadcast(
            spark.createDataFrame(
                [
                    (
                        int(qids[qi]),
                        int(pid),
                        [[float(v) for v in row] for row in tables[i]],
                    )
                    for i, (qi, pid) in enumerate(zip(probe_qidx, probe_pid))
                ],
                "query_id long, partition_id int, __tbl array<array<double>>",
            )
        )
        score_expr = F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.col("__tbl"),
                lambda code, row: F.element_at(row, code + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = (
            candidates.join(probes_df, "partition_id")
            .withColumn("__score", score_expr)
            .select("query_id", id_col, "partition_id", "__score")
        )
    elif scorer == "batch":
        # Arrow kernel: one vectorized gather per (probing query,
        # batch), the radius filter applied IN the kernel so only
        # matches cross back (plus a batch-local nearest-L cut when
        # limit_per_query bounds the result — union of per-batch
        # top-L provably contains the global top-L).
        sc = spark.sparkContext
        b_tables = sc.broadcast(tables)
        by_pid: dict[int, list[tuple[int, int]]] = {}
        for i, (qi, pid) in enumerate(zip(probe_qidx, probe_pid)):
            by_pid.setdefault(int(pid), []).append((int(qids[qi]), int(i)))
        b_probes = sc.broadcast(by_pid)
        out_schema = (
            f"query_id long, {id_col} {id_type}, "
            "partition_id int, __score double"
        )
        rt, dd = round_to, d
        # under rerank the kernel keeps the slack band, and the
        # batch-local limit cut is disabled — an ADC-order cut could
        # drop rows that belong in the EXACT-order top-L
        rad = (
            float(radius) * float(rerank_slack)
            if rerank is not None
            else float(radius)
        )
        cut = (
            None
            if (limit_per_query is None or rerank is not None)
            else int(limit_per_query)
        )

        def score_partition(batches):
            t = b_tables.value
            probes = b_probes.value
            ar = np.arange(dd)
            for pdf in batches:
                if pdf.empty:
                    continue
                outs = []
                for pid, grp in pdf.groupby("partition_id"):
                    plist = probes.get(int(pid))
                    if not plist:
                        continue
                    cd = np.vstack(grp["codes"].to_numpy())
                    vids = grp[id_col].to_numpy()
                    for query_id, pi in plist:
                        s = t[pi, ar[None, :], cd].sum(axis=1)
                        rs = np.round(s, rt) if rt is not None else s
                        m = rs <= rad
                        if not m.any():
                            continue
                        sv, rv, vv = s[m], rs[m], vids[m]
                        if cut is not None and len(sv) > cut:
                            sel = np.lexsort((vv, rv))[:cut]
                            sv, vv = sv[sel], vv[sel]
                        outs.append(
                            pd.DataFrame(
                                {
                                    "query_id": query_id,
                                    id_col: vv,
                                    "partition_id": int(pid),
                                    "__score": sv,
                                }
                            )
                        )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        scored = candidates.select(id_col, "partition_id", "codes").mapInPandas(
            score_partition, out_schema
        )
    else:
        raise ValueError(f"unknown scorer: {scorer}")

    out_score = (
        F.round(F.col("__score"), round_to)
        if round_to is not None
        else F.col("__score")
    )
    cutoff = (
        float(radius) * float(rerank_slack)
        if rerank is not None
        else float(radius)
    )
    out = scored.select(
        "query_id",
        F.col(id_col).alias("vector_id"),
        "partition_id",
        out_score.alias("squared_distance"),
    ).where(F.col("squared_distance") <= cutoff)
    if rerank is not None:
        vec_col = model.config.vec_col
        qdf = F.broadcast(
            spark.createDataFrame(
                [(int(q), [float(x) for x in v]) for q, v in zip(qids, qarr)],
                "query_id long, __qv array<float>",
            )
        )
        survivors = out.select(
            "query_id", F.col("vector_id").alias(id_col), "partition_id"
        )
        ex = (
            rerank.select(id_col, vec_col)
            .join(F.broadcast(survivors), id_col)
            .join(qdf, "query_id")
            .withColumn("__score", squared_l2(F.col(vec_col), F.col("__qv")))
        )
        score2 = (
            F.round(F.col("__score"), round_to)
            if round_to is not None
            else F.col("__score")
        )
        out = ex.select(
            "query_id",
            F.col(id_col).alias("vector_id"),
            "partition_id",
            score2.alias("squared_distance"),
        ).where(F.col("squared_distance") <= float(radius))
    if limit_per_query is not None:
        w = Window.partitionBy("query_id").orderBy(
            F.col("squared_distance").asc(), F.col("vector_id").asc()
        )
        out = out.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= int(limit_per_query)
        )
    return out


def ann_range_query(
    model: IndexModel,
    query_vector: list[float],
    radius: float,
    nprobe: int,
    round_to: int | None = None,
    limit: int | None = None,
    where=None,
    scorer: str = "auto",
    rerank: DataFrame | None = None,
    rerank_slack: float = 1.5,
) -> DataFrame:
    """Solo RADIUS search over the IVF+PQ index — the single-query
    form of `ann_range_query_batch`, contract-matching the SQ side's
    `plans.ivfsq.ivfsq_range_query`: ``(vector_id, partition_id,
    squared_distance)`` ascending by (rounded) distance with id
    tie-break; ``limit`` is an ordered safety cap (keeps the nearest);
    ``where`` pre-filters before scoring; ``rerank``/``rerank_slack``
    refine to EXACT radius semantics (see the batch form)."""
    out = ann_range_query_batch(
        model,
        [(0, [float(x) for x in query_vector])],
        radius,
        nprobe,
        round_to=round_to,
        where=where,
        limit_per_query=limit,
        scorer=scorer,
        rerank=rerank,
        rerank_slack=rerank_slack,
    )
    return (
        out.select("vector_id", "partition_id", "squared_distance")
        .orderBy(
            F.col("squared_distance").asc(), F.col("vector_id").asc()
        )
    )
