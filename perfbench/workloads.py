"""The two workloads, driven through the program's public API only.

``query_single``: closed loop, one client, requests of one query
against the built index, cached in memory.

``ingest``: closed loop, one client, cycles against the parquet store
the set-up built and saved: upsert 2,000 vectors (half new ids, half
replacements), delete 500 live ids, reload the index, and read back
with one 100-query batch of which 20 queries are exact copies of
just-upserted vectors.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

from checks import (
    check_count,
    check_topk,
    group_rows,
    pq_self_distance,
    recall_hits,
)
from datagen import LiveSet, VectorSource, exact_topk, write_vectors
from spans import Tracer

# data and index shape
CORPUS = 20_000
DIMS = 128
PARTITIONS = 64
DIVISIONS = 16
CODES = 64
BUILD_SEED = 7
# driver-side k-means effort: 25 Lloyd iterations on at most 64 points
# per centroid (4,096-point fits), so training costs seconds, not tens
MAX_ITER = 25
POINTS_PER_CENTROID = 64
K = 10
NPROBE = 8
SETUP_ROUNDS = 3
WARM_UP_S = 10.0
MIN_CYCLES = 2
QUERY_POOL = 512
UPSERT_NEW = 1_000
UPSERT_REPLACED = 1_000
DELETES = 500
STORE_QUERIES = 100
SELF_QUERIES = 20
# recall@10 below this means the index returns near-random neighbours
RECALL_FLOOR = 0.2

UNTRACED = Tracer(False)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, checksum files included."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files


class Run:
    """State and samples of one benchmark run of one workload."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int,
                 seconds: float, session_s: float):
        from flechasdb_spark.operators.build import IndexConfig

        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.session_s = seed, seconds, session_s
        self.cfg = IndexConfig(
            num_partitions=PARTITIONS,
            num_divisions=DIVISIONS,
            num_codes=CODES,
            seed=BUILD_SEED,
            max_iter=MAX_ITER,
            max_points_per_centroid=POINTS_PER_CENTROID,
        )
        self.rng = np.random.default_rng(seed + 1)
        self.attempted = self.failed = 0
        self.hits = self.expected = 0
        self.round_s: list[float] = []
        self.build_s: list[float] = []
        # (request kind, traced) -> latencies in seconds
        self.latency: dict[tuple[str, bool], list[float]] = defaultdict(list)
        self.items = 0
        self.item_s = 0.0
        # request kind -> candidate rows scored per result row
        self.rows_examined: dict[str, list[float]] = defaultdict(list)
        self._sizes: tuple = (None, {})
        # (cells rewritten, bytes of those cells, user bytes) per rewrite
        self.rewrites: list[tuple[int, int, int]] = []
        self.saved = (0, 0)
        # (kind, seconds) of every timed call, in order
        self.op_log: list[tuple[str, float]] = []
        self.bytes_per_vector = 0.0

    # -- operations ------------------------------------------------------

    def op(self, fn, *args):
        """One attempted operation: fn's value, or None after counting
        its exception as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def fail_on(self, errors: list[str]) -> None:
        if errors:
            self.failed += 1
            for e in errors[:5]:
                print(f"check failed: {e}", file=sys.stderr)

    def timed(self, kind: str, layer: str, fn, *args, **kwargs):
        """(fn(*args, **kwargs), wall seconds) as one traced request."""
        t = self.tracer
        start = time.perf_counter()
        with t.request(kind), t.span(f"{layer}.{fn.__name__}", layer):
            out = fn(*args, **kwargs)
        wall = time.perf_counter() - start
        self.op_log.append((kind, round(wall, 4)))
        return out, wall

    def build(self, path: str):
        from flechasdb_spark.operators.build import build_index

        df = self.spark.read.parquet(path)
        model, wall = self.timed(
            "build", "operators.build", build_index, df, self.cfg,
            on_event=self.tracer.on_event("build", "operators.build"),
        )
        self.build_s.append(wall)
        return model

    def query(self, model, queries, qids, kind: str, traced: bool):
        """One k-NN request: (rows, latency)."""
        from flechasdb_spark.plans.ivf import ann_query

        t = self.tracer if traced else UNTRACED
        with t.request(kind):
            start = time.perf_counter()
            with t.span("ivf.ann_query", "plans.ivf"):
                df = ann_query(
                    model, queries, K, NPROBE, query_ids=qids,
                    on_event=t.on_event("ivf", "plans.ivf"),
                )
            with t.span("ivf.execute", "plans.ivf"):
                rows = df.collect()
            latency = time.perf_counter() - start
        self.op_log.append((kind, round(latency, 4)))
        return rows, latency

    def checked_query(self, model, queries, qids, truth, kind, traced,
                      deleted=(), self_ids=None) -> float | None:
        out = self.op(self.query, model, queries, qids, kind, traced)
        if out is None:
            return None
        rows, latency = out
        results = group_rows(rows)
        self.fail_on(check_topk(results, qids, K, deleted, self_ids))
        found, expected = recall_hits(results, truth)
        self.hits += found
        self.expected += expected
        self.latency[kind, traced].append(latency)
        if traced and rows:
            from flechasdb_spark.plans.ivf import select_probes

            sizes = self.partition_sizes(model)
            _, pids = select_probes(model, queries.astype(np.float64), NPROBE)
            examined = sum(sizes.get(int(p), 0) for p in pids)
            self.rows_examined[kind].append(examined / len(rows))
        return latency

    def partition_sizes(self, model) -> dict[int, int]:
        """Rows per partition, counted once per model (traced runs only)."""
        if self._sizes[0] is not model:
            counts = model.encoded.groupBy("partition_id").count().collect()
            self._sizes = (
                model,
                {int(r.partition_id): int(r["count"]) for r in counts},
            )
        return self._sizes[1]

    # -- set-up ----------------------------------------------------------

    def generate(self, name: str):
        """The seeded corpus, written as parquet: (path, source, ids,
        vectors). ``source`` goes on to draw the run's later vectors."""
        path = os.path.join(self.work, f"{name}.parquet")
        source = VectorSource(self.seed, DIMS)
        vecs = source.vectors(CORPUS)
        ids = np.arange(CORPUS, dtype=np.int64)
        write_vectors(path, ids, vecs)
        return path, source, ids, vecs

    # -- store operations ------------------------------------------------

    def save(self, model, store: str) -> None:
        from flechasdb_spark.sources.manifest import save_index

        self.timed("save", "sources.manifest", save_index, model, store)
        self.saved = dir_bytes(store)

    def rewrite(self, kind, fn, model, store, batch, items, user_bytes):
        """An upsert or delete of ``items`` vectors."""
        out = self.op(
            self.timed, kind, "operators.maintenance", fn,
            self.spark, model, store, batch,
        )
        if out is None:
            return
        touched, wall = out
        self.items += items
        self.item_s += wall
        if self.tracer.enabled:
            cells = sum(
                dir_bytes(os.path.join(store, "index", f"partition_id={p}"))[0]
                for p in touched
            )
            self.rewrites.append((len(touched), cells, user_bytes))

    def cycle(self, model, store: str, live: LiveSet, source: VectorSource,
              next_id: int, repeats: bool = False):
        """One ingest cycle; returns the reloaded model (the old one if
        the reload failed). The read-back is traced in traced runs; with
        ``repeats`` it then runs four more times, untraced, traced,
        traced, untraced, to measure the tracing overhead with any
        warming trend cancelled out."""
        from flechasdb_spark.operators.maintenance import (
            delete_vectors,
            upsert_vectors,
        )
        from flechasdb_spark.sources.manifest import load_index

        new_ids = np.arange(next_id, next_id + UPSERT_NEW, dtype=np.int64)
        old_ids = self.rng.choice(live.ids, UPSERT_REPLACED, replace=False)
        up_ids = np.concatenate([new_ids, old_ids])
        up_vecs = source.vectors(len(up_ids))
        up_path = os.path.join(self.work, f"upsert-{next_id}.parquet")
        write_vectors(up_path, up_ids, up_vecs)
        up_df = self.spark.read.parquet(up_path)
        self.rewrite("upsert", upsert_vectors, model, store, up_df,
                     len(up_ids), len(up_ids) * (4 * DIMS + 8))
        live.upsert(up_ids, up_vecs)

        candidates = live.ids[~np.isin(live.ids, up_ids)]
        del_ids = self.rng.choice(candidates, DELETES, replace=False)
        self.rewrite("delete", delete_vectors, model, store,
                     [int(i) for i in del_ids], DELETES, 8 * DELETES)
        live.delete(del_ids)

        out = self.op(self.timed, "load", "sources.manifest", load_index,
                      self.spark, store)
        if out is not None:
            model, wall = out
            self.item_s += wall
            self.fail_on(check_count(model.num_vectors, len(live)))

        # read-back: noisy copies of live vectors plus exact copies of
        # just-upserted ones; ground truth over the live set
        picks = self.rng.choice(
            len(live), STORE_QUERIES - SELF_QUERIES, replace=False
        )
        selfs = self.rng.choice(len(up_ids), SELF_QUERIES, replace=False)
        queries = np.concatenate(
            [source.perturb(live.vecs[picks]), up_vecs[selfs]]
        )
        qids = list(range(STORE_QUERIES))
        self_ids = {
            STORE_QUERIES - SELF_QUERIES + j: (
                int(up_ids[s]),
                pq_self_distance(up_vecs[s], model.centroids, model.codebooks),
            )
            for j, s in enumerate(selfs)
        }
        truth = dict(zip(qids, exact_topk(queries, live.ids, live.vecs, K)))
        latency = self.checked_query(
            model, queries, qids, truth, "store_query", self.tracer.enabled,
            live.deleted, self_ids,
        )
        if latency is not None:
            self.item_s += latency
        for traced in (False, True, True, False) if repeats else ():
            self.checked_query(
                model, queries, qids, truth, "store_query_repeat", traced,
                live.deleted, self_ids,
            )
        if self.tracer.enabled:
            self.bytes_per_vector = dir_bytes(store)[0] / len(live)
        return model


def query_single(run: Run) -> None:
    from flechasdb_spark.plans.ivf import ann_query

    # set-up rounds: generate, build (which fills the index cache)
    model = None
    for i in range(SETUP_ROUNDS):
        if model is not None:
            model.encoded.unpersist()
        start = time.perf_counter()
        path, source, ids, vecs = run.generate(f"corpus-{i}")
        model = run.build(path)
        run.round_s.append(time.perf_counter() - start)

    picks = run.rng.choice(CORPUS, QUERY_POOL, replace=False)
    pool = source.perturb(vecs[picks])
    truth = exact_topk(pool, ids, vecs, K)
    # unmeasured requests until the JVM's compiled code settles: request
    # latency still falls by a fifth over the first ~20 requests
    start = time.perf_counter()
    while time.perf_counter() - start < WARM_UP_S:
        ann_query(model, pool[:1], K, NPROBE).collect()
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < run.seconds:
        j = i % QUERY_POOL
        # traced runs alternate traced and untraced requests
        traced = run.tracer.enabled and i % 2 == 0
        run.checked_query(
            model, pool[j : j + 1], [i], {i: truth[j]}, "single", traced
        )
        i += 1
    done = run.latency["single", False]
    run.items += len(done)
    run.item_s += sum(done)
    # recall over the whole query pool, not only the few queries the
    # loop reached: one untimed, checked batch request
    qids = list(range(QUERY_POOL))
    run.checked_query(
        model, pool, qids, dict(zip(qids, truth)), "recall_batch", False
    )
    if run.tracer.enabled:
        # one store cycle so every per-layer metric is measured on this
        # workload too (traced runs only)
        store = os.path.join(run.work, "store")
        run.save(model, store)
        run.cycle(model, store, LiveSet(ids, vecs), source, CORPUS)


def ingest(run: Run) -> None:
    # set-up rounds: generate, build, save to the store
    store = os.path.join(run.work, "store")
    for i in range(SETUP_ROUNDS):
        shutil.rmtree(store, ignore_errors=True)
        start = time.perf_counter()
        path, source, ids, vecs = run.generate(f"corpus-{i}")
        model = run.build(path)
        run.save(model, store)
        model.encoded.unpersist()
        run.round_s.append(time.perf_counter() - start)

    live = LiveSet(ids, vecs)
    next_id = CORPUS
    start = time.perf_counter()
    cycles = 0
    # at least two cycles, so the first cycle never stands alone
    while time.perf_counter() - start < run.seconds or cycles < MIN_CYCLES:
        model = run.cycle(model, store, live, source, next_id,
                          repeats=run.tracer.enabled)
        cycles += 1
        next_id += UPSERT_NEW


WORKLOADS = {"query_single": query_single, "ingest": ingest}
PRIMARY = {"query_single": "single", "ingest": "store_query"}
# requests whose traced and untraced medians give the tracing overhead
OVERHEAD = {"query_single": "single", "ingest": "store_query_repeat"}



def end_to_end(run: Run, workload: str) -> dict[str, float]:
    return {
        "setup_s": run.session_s + statistics.median(run.round_s),
        "latency_p50_ms": 1e3
        * statistics.median(run.latency[PRIMARY[workload], False]),
        "items_per_s": run.items / run.item_s,
        "recall_at_10": run.hits / run.expected,
        "build_vectors_per_s": CORPUS / statistics.median(run.build_s),
    }




def per_layer(run: Run, workload: str) -> dict[str, float]:
    t = run.tracer
    med = statistics.median
    kind = PRIMARY[workload]
    primary = [r for r in t.requests if r.kind == kind]
    in_primary = {r.rid for r in primary}

    def span_median(name: str, requests=None) -> float:
        return med(
            s.end - s.start
            for s in t.spans
            if s.name == name and (requests is None or s.request in requests)
        )

    def walls(kind: str) -> float:
        return med(r.wall for r in t.requests if r.kind == kind)

    def spark(key: str, stat=med) -> float:
        return stat(r.spark[key] for r in primary)

    selfs = [t.request_self_times(r) for r in primary]
    traced = med(run.latency[OVERHEAD[workload], True])
    untraced = med(run.latency[OVERHEAD[workload], False])
    return {
        "session.start_s": run.session_s,
        "build.sample_s": span_median("build.sample"),
        "build.train_s": span_median("build.train"),
        "build.encode_s": span_median("build.encode"),
        "ivf.probe_s": span_median("ivf.select_probes", in_primary),
        "ivf.adc_s": span_median("ivf.adc_tables", in_primary),
        "ivf.plan_s": span_median("ivf.plan_built", in_primary),
        "ivf.execute_s": span_median("ivf.execute", in_primary),
        "ivf.rows_examined_per_result": med(run.rows_examined[kind]),
        "spark.jobs_per_request": spark("jobs"),
        "spark.stages_per_request": spark("stages"),
        "spark.tasks_per_request": spark("tasks"),
        "spark.driver_gap_s": spark("driver_gap_s"),
        "spark.executor_run_s": spark("executor_run_s", statistics.mean),
        "spark.executor_cpu_s": spark("executor_cpu_s", statistics.mean),
        "spark.gc_s": spark("gc_s", statistics.mean),
        "spark.shuffle_write_bytes": spark("shuffle_write_bytes", statistics.mean),
        "manifest.save_s": walls("save"),
        "manifest.load_s": walls("load"),
        "manifest.bytes_written": run.saved[0],
        "manifest.files_written": run.saved[1],
        "manifest.bytes_per_vector": run.bytes_per_vector,
        "maintenance.upsert_s": walls("upsert"),
        "maintenance.delete_s": walls("delete"),
        "maintenance.cells_rewritten_per_op": statistics.mean(
            w[0] for w in run.rewrites
        ),
        "maintenance.bytes_rewritten_per_user_byte": sum(
            w[1] for w in run.rewrites
        )
        / sum(w[2] for w in run.rewrites),
        "self.bench_s": statistics.mean(s.get("bench", 0.0) for s in selfs),
        "self.ivf_s": statistics.mean(s.get("plans.ivf", 0.0) for s in selfs),
        "self.spark_s": statistics.mean(s.get("spark", 0.0) for s in selfs),
        "bench.trace_overhead_pct": 100.0 * (traced - untraced) / untraced,
    }
