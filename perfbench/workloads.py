"""The three benchmark workloads.

Each runs as a closed loop with one client: the next operation starts
when the previous one has returned. Every timed operation is wrapped,
so an exception counts as a failure and the loop goes on; the
correctness checks at the end decide whether the run is correct.

Sizes keep a whole run, set-up included, between 40 and 95 seconds on
a 4-core host (see ``perfbench/BENCHMARK.md``).
"""

from __future__ import annotations

import hashlib
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import numpy as np

from perfbench import inputs
from perfbench.trace import (
    SPAN_COUNTERS,
    CpuClock,
    NullTracer,
    SparkCounters,
    instrument,
    tail_percentile,
    totals,
    traced,
)

# set-up repetitions whose median enters setup_s
SETUP_REPS = 3
# untimed fit cycles before the k-means loop is measured
WARM_CYCLES = 1
# fits a k-means run measures at least, past --seconds if need be: fits
# still get cheaper for a few cycles after the warm-up, so a median over
# a number of fits that varies with the host's speed would vary with it
MIN_FITS = 4

# reference_fit: k-means.sh + OptimalK.sql on 4 far-apart 3-d blobs.
# The spread is 1e-5 of the spacing, so the reference's plain-distance
# k-means++ picks two points of one blob with odds of about 1e-4 per
# seed; otherwise the fit stops after two Lloyd steps.
REF_N, REF_K, REF_SPACING, REF_SIGMA = 100_000, 4, 1000.0, 0.01
REF_INERTIA_TOL = 1e-3  # |inertia_ratio - 1|

# large_k_fit: 64 overlapping 16-d clusters, so Lloyd never meets the
# stop test inside max_iter and every fit runs all 15 steps.
BIG_N, BIG_K, BIG_DIM, BIG_BOX, BIG_SIGMA, BIG_ITERS = 40_000, 64, 16, 10.0, 2.5, 15
BIG_INERTIA_MAX = 1.10

# ann_churn: IVF-PQ over 32-d vectors drawn around 64 topics.
ANN_N, ANN_DIM, ANN_TOPICS, ANN_SIGMA = 20_000, 32, 64, 0.3
ANN_NLIST, ANN_M_SUB, ANN_CODES = 16, 8, 16
ANN_QUERY_BATCH, ANN_WRITE_BATCH, ANN_TOPK = 8, 16, 10
ANN_RECALL_QUERIES, ANN_RECALL_FLOOR = 32, 0.25
ANN_TABLE = "ivfpq"
# a cycle starts on a folded base, where an upsert opens the first delta
# layer (an append there would join the base and open none)
WRITE_KINDS = ("upsert", "delete", "append")
CYCLE_WRITES = 9
# writes between two queries: a query after every write would make a
# run longer than the run budget allows (see perfbench/BENCHMARK.md)
QUERY_EVERY = 2

SPANS = (
    "plans.prepare",
    "plans.init",
    "plans.lloyd",
    "plans.assign",
    "plans.elbow",
    "plans.silhouette",
    "operators.build",
    "operators.query",
    "operators.append",
    "operators.upsert",
    "operators.delete",
    "sources.state.read",
    "sources.state.commit",
    "sources.state.optimize",
)


@dataclass
class Run:
    """What one workload run hands back to ``run.py``."""

    spark: object
    counters: SparkCounters
    tracer: object
    work: Path
    seed: int
    seconds: float
    session_start_s: float
    setup_s: float = 0.0
    inputs: str = ""
    latencies: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    measured_s: float = 0.0  # loop wall time, untimed checks excluded
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    checks: dict = field(default_factory=dict)  # name -> (ok, detail)
    results: dict = field(default_factory=dict)  # traced/untraced equality
    layer: dict = field(default_factory=dict)  # counts for per_layer and the artifact
    clock: CpuClock = field(default_factory=CpuClock)
    cpu: dict = field(default_factory=dict)  # kind -> CPU seconds per operation

    def timed(self, kind: str, fn, *args, **kwargs):
        """Run one timed operation; returns ``(ok, result)``."""
        self.attempted += 1
        c0, t0 = self.clock(), time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return False, None
        self.record(kind, time.perf_counter() - t0, self.clock() - c0)
        return True, result

    def record(self, kind: str, wall_s: float, cpu_s: float) -> None:
        self.latencies.setdefault(kind, []).append(wall_s)
        self.cpu.setdefault(kind, []).append(cpu_s)

    def reset(self) -> None:
        """Forget the warm-up's operations."""
        self.latencies.clear()
        self.cpu.clear()
        self.attempted = self.failed = 0
        self.errors.clear()

    def check(self, name: str, ok: bool, detail) -> None:
        self.checks[name] = (bool(ok), detail)


def _setup(run: Run, prepare):
    """Run ``prepare(rep_dir)`` SETUP_REPS times; keeps the last
    result and returns it with the median repetition time."""
    times, out = [], None
    for rep in range(SETUP_REPS):
        rep_dir = run.work / f"setup{rep}"
        shutil.rmtree(rep_dir, ignore_errors=True)
        rep_dir.mkdir(parents=True)
        t0 = time.perf_counter()
        out = prepare(rep_dir)
        times.append(time.perf_counter() - t0)
    return out, median(times)


def _median_or_none(samples):
    return median(samples) if samples else None


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


# ---- k-means workloads -------------------------------------------------


def _engine_spec(run: Run) -> dict:
    """Spans on a KMeansEngine instance; the cached working set is
    measured right after ``prepare_working_set`` returns."""

    def after_prepare(pre, result, *a, **k):
        return {"cache_mb": run.counters.cache_mb()}

    return {
        "prepare_working_set": ("plans.prepare", None, after_prepare),
        "init_centroids": ("plans.init", None, None),
        "init_centroids_parallel": ("plans.init", None, None),
        "lloyd_step": ("plans.lloyd", None, None),
    }


def _assign_rows(eng, yh, model) -> tuple[int, int]:
    """``assign`` written to the noop sink; an Observation counts the
    rows and the assigned ones in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("assign")
    (
        eng.assign(yh, model)
        .observe(obs, F.count(F.lit(1)).alias("rows"), F.count("j").alias("assigned"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    got = obs.get
    return int(got["rows"]), int(got["assigned"])


def _sq_inertia(points: np.ndarray, centers: np.ndarray) -> float:
    total = 0.0
    for lo in range(0, len(points), 8192):
        chunk = points[lo : lo + 8192]
        d2 = ((chunk[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        total += float(d2.min(axis=1).sum())
    return total


def _kmeans_workload(run: Run, make_data, engine_kwargs: dict, diagnose: bool) -> None:
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.plans.optimal_k import elbow, silhouette_sampled

    spark, tracer = run.spark, run.tracer

    def prepare(rep_dir: Path):
        centers, labels, points = make_data(np.random.default_rng(run.seed))
        path = str(rep_dir / "points.parquet")
        inputs.write_vectors(path, np.arange(len(points)), points, "i", "Y")
        yh = spark.read.parquet(path)
        yh.count()
        return centers, labels, points, yh

    (centers, labels, points, yh), rep_s = _setup(run, prepare)
    n = len(points)
    run.inputs = inputs.fingerprint(centers, labels, points)

    fit_jobs: list[int] = []
    cycle_cpu: list[float] = []

    def cycle(eng, tr):
        """fit -> assign; returns ``(result, assign counts)`` or None if
        the fit failed."""
        c0 = run.clock()
        before = run.counters.newest_job_id()
        ok, res = run.timed("fit", eng.fit, yh)
        if not ok:
            return None
        fit_jobs.append(run.counters.newest_job_id() - before)

        # assign() only plans; its span also covers the noop write
        def assign():
            with tr.span("plans.assign"):
                return _assign_rows(eng, yh, res.model)

        ok, rows = run.timed("assign", assign)
        cycle_cpu.append(run.clock() - c0)
        return res, rows

    def diagnostics(model, elbow_fn, silhouette_fn):
        """OptimalK.sql on a fitted model: elbow + silhouette."""
        return run.timed(
            "diagnose", lambda: (elbow_fn(yh, model), silhouette_fn(yh, model)["si"])
        )[1]

    # warm-up: untraced cycles pay JIT, codegen and worker start
    t0 = time.perf_counter()
    warm = KMeansEngine(**engine_kwargs)
    for rep in range(WARM_CYCLES):
        out = cycle(warm, NullTracer())
        if diagnose and rep == 0 and out is not None:
            diagnostics(out[0].model, elbow, silhouette_sampled)
    run.reset()
    fit_jobs.clear()
    cycle_cpu.clear()
    run.setup_s = run.session_start_s + rep_s + (time.perf_counter() - t0)

    eng = KMeansEngine(**engine_kwargs)
    instrument(eng, tracer, _engine_spec(run))
    elbow_fn = traced(tracer, "plans.elbow", elbow)
    silhouette_fn = traced(tracer, "plans.silhouette", silhouette_sampled)
    last = None
    start = time.perf_counter()

    def measuring() -> bool:
        if time.perf_counter() - start < run.seconds or last is None:
            return True
        return len(fit_jobs) < MIN_FITS and run.failed < MIN_FITS

    while measuring():
        out = cycle(eng, tracer)
        if out is not None:
            last = out
        elif run.attempted >= 3 and run.failed == run.attempted:
            break
    # the diagnostics run once, on the last model: in the loop they
    # would halve the fits a run measures
    diag = None
    if diagnose and last is not None:
        diag = diagnostics(last[0].model, elbow_fn, silhouette_fn)
    run.measured_s = time.perf_counter() - start

    lat = run.latencies
    if last is None:
        run.check("fit", False, "every fit failed")
        return
    res, rows = last
    model = np.asarray([c for _, c in sorted(res.model)], dtype=np.float64)
    ratio = _sq_inertia(points, model) / _sq_inertia(points, centers)
    k = len(centers)
    run.metrics.update(
        fit_s=(median(lat["fit"]), "s"),
        fit_cpu_s=(median(run.cpu["fit"]), "s"),
        cycle_cpu_s=(median(cycle_cpu), "s"),
        fit_jobs=(median(fit_jobs), "count"),
        inertia_ratio=(ratio, "ratio"),
        assign_s=(_median_or_none(lat.get("assign")), "s"),
        ops_per_s=(sum(map(len, lat.values())) / run.measured_s, "op/s"),
    )
    if diagnose:
        run.metrics["diagnose_s"] = (_median_or_none(lat.get("diagnose")), "s")
        run.metrics["diagnose_cpu_s"] = (_median_or_none(run.cpu.get("diagnose")), "s")
    run.check("fit_k", len(res.model) == k, f"{len(res.model)} centroids for k={k}")
    run.check("assign_rows", rows == (n, n), f"rows, assigned = {rows}, N = {n}")
    if diagnose:
        run.check("inertia_ratio", abs(ratio - 1.0) <= REF_INERTIA_TOL, f"{ratio:.6f}")
        run.check("silhouette", diag is not None and diag[1] > 0.9, f"si = {diag}")
    else:
        run.check("inertia_ratio", ratio <= BIG_INERTIA_MAX, f"{ratio:.6f}")
    run.results = {
        "model": _digest(res.model),
        "n_iter": res.n_iter,
        "assign_rows": rows,
        "diagnose": _digest(diag),
    }
    run.layer.update(
        {
            "plans.lloyd.steps": res.n_iter,
            "functions.lloyd.flops_per_fit": 3.0 * n * k * model.shape[1] * res.n_iter,
            "fits": len(lat["fit"]),
        }
    )


def reference_fit(run: Run) -> None:
    def make(rng):
        centers = inputs.separated_centers(rng, REF_SPACING)
        labels, points = inputs.blobs(rng, centers, REF_N, REF_SIGMA)
        return centers, labels, points

    _kmeans_workload(run, make, {"k": REF_K, "init": "plusplus"}, diagnose=True)


def large_k_fit(run: Run) -> None:
    def make(rng):
        centers = rng.uniform(0.0, BIG_BOX, size=(BIG_K, BIG_DIM))
        labels, points = inputs.blobs(rng, centers, BIG_N, BIG_SIGMA)
        return centers, labels, points

    _kmeans_workload(
        run,
        make,
        {"k": BIG_K, "init": "parallel", "max_iter": BIG_ITERS},
        diagnose=False,
    )


# ---- ann_churn ---------------------------------------------------------


def _store_spec(run: Run, store) -> dict:
    """Spans on a SnapshotStateStore instance. ``append`` and
    ``merge_delta`` are the commit path; ``vacuum`` is the second half
    of the maintenance pass, so it shares the optimize span."""

    def files(table):
        data = store.root / table / "data"
        return {p.name: p.stat().st_size for p in data.glob("*.parquet")} if data.exists() else {}

    def new_bytes(before, table):
        return sum(size for name, size in files(table).items() if name not in before)

    def before_read(spark, table, version=None):
        return {"delta_layers": store.delta_layers(table, version)}

    def after_read(pre, result, *a, **k):
        return pre

    def before_commit(table_arg):
        return lambda *a, **k: files(_arg(a, k, table_arg, "table"))

    def after_commit(table_arg):
        return lambda pre, result, *a, **k: {
            "bytes": new_bytes(pre, _arg(a, k, table_arg, "table"))
        }

    def after_optimize(pre, result, *a, **k):
        return {"bytes_rewritten": new_bytes(pre, _arg(a, k, 1, "table")), "runs": 1}

    return {
        "read": ("sources.state.read", before_read, after_read),
        "append": ("sources.state.commit", before_commit(1), after_commit(1)),
        "merge_delta": ("sources.state.commit", before_commit(0), after_commit(0)),
        "optimize": ("sources.state.optimize", before_commit(1), after_optimize),
        "vacuum": ("sources.state.optimize", None, None),
    }


def _arg(args, kwargs, pos, name):
    return kwargs[name] if name in kwargs else args[pos]


class _Index:
    """The benchmark's model of the index contents (live key -> vector)
    and the seeded source of every batch it sends."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self.topics = self.rng.normal(0.0, 1.0, size=(ANN_TOPICS, ANN_DIM))
        _, corpus = inputs.blobs(self.rng, self.topics, ANN_N, ANN_SIGMA)
        self.live = dict(enumerate(corpus))
        self.next_id = ANN_N
        self.corpus = corpus

    def near(self, m: int) -> np.ndarray:
        keys = list(self.live)
        picks = self.rng.integers(0, len(keys), size=m)
        base = np.stack([self.live[keys[i]] for i in picks])
        return base + self.rng.normal(0.0, 0.1, size=base.shape)

    def fresh(self, m: int) -> np.ndarray:
        return inputs.blobs(self.rng, self.topics, m, ANN_SIGMA)[1]

    def batch(self, kind: str):
        """``(ids, vectors)`` for one write; applies it to the model."""
        m = ANN_WRITE_BATCH
        if kind == "append":
            ids = np.arange(self.next_id, self.next_id + m)
            self.next_id += m
        else:
            keys = np.fromiter(self.live, dtype=np.int64)
            ids = np.sort(self.rng.choice(keys, size=m, replace=False))
        if kind == "delete":
            for i in ids:
                del self.live[int(i)]
            return ids, None
        vecs = self.fresh(m)
        for i, v in zip(ids, vecs):
            self.live[int(i)] = v
        return ids, vecs


def _cycle_plan() -> list[str]:
    """One compaction cycle's op order: nine writes (upsert, delete,
    append in turn), each adding one delta layer, so the ninth write
    trips ``ann_compact_due``'s default limit of 8 pending layers; a
    query first and after every second write, at 0, 2, 4, 6 and 8
    pending layers. The last query reads the folded index."""
    plan = ["query"]
    for w in range(CYCLE_WRITES):
        plan.append(WRITE_KINDS[w % 3])
        if (w + 1) % QUERY_EVERY == 0 or w == CYCLE_WRITES - 1:
            plan.append("query")
    return plan


def ann_churn(run: Run) -> None:
    from clickhouse_k_means_spark.operators import ann_index
    from clickhouse_k_means_spark.sources.dataset import local_df
    from clickhouse_k_means_spark.sources.state import SnapshotStateStore

    spark, tracer = run.spark, run.tracer
    build = traced(tracer, "operators.build", ann_index.ivfpq_index)

    def prepare(rep_dir: Path):
        model = _Index(run.seed)
        path = str(rep_dir / "corpus.parquet")
        inputs.write_vectors(path, np.arange(ANN_N), model.corpus, "vec_id", "embedding")
        corpus = spark.read.parquet(path)
        store = SnapshotStateStore(str(rep_dir / "store"))
        build(corpus, store, ANN_TABLE, nlist=ANN_NLIST, m_sub=ANN_M_SUB, n_codes=ANN_CODES)
        return model, store

    def vec_df(ids, vecs, key="vec_id"):
        rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
        return local_df(spark, rows, f"{key} bigint, embedding array<double>")

    def query_df(vecs):
        return vec_df(range(len(vecs)), vecs, key="q")

    def ranked(df):
        return sorted(tuple(r) for r in df.collect())

    def make_ops(store, tr):
        """The workload's write and query calls, wrapped in spans when
        ``tr`` traces."""
        query = traced(
            tr,
            "operators.query",
            lambda q: ranked(ann_index.ivfpq_query(q, store, ANN_TABLE, k=ANN_TOPK)),
            after=lambda pre, rows, *a, **k: {"result_rows": len(rows)},
        )
        append = traced(tr, "operators.append", ann_index.ivfpq_append)
        upsert = traced(tr, "operators.upsert", ann_index.ann_upsert)
        delete = traced(tr, "operators.delete", ann_index.ann_delete)
        writes = {
            "append": lambda ids, v: append(vec_df(ids, v), store, ANN_TABLE),
            "upsert": lambda ids, v: upsert(vec_df(ids, v), store, ANN_TABLE),
            "delete": lambda ids, v: delete(spark, [int(i) for i in ids], store, ANN_TABLE),
        }
        return query, writes

    (model, store), rep_s = _setup(run, prepare)
    recall_q = model.near(ANN_RECALL_QUERIES)
    probe_q = model.near(ANN_QUERY_BATCH)
    run.inputs = inputs.fingerprint(model.corpus, recall_q, probe_q)

    # warm-up on a copy of the built index: a query and an upsert,
    # untraced; the measured store is untouched. The other writes and
    # a maintenance pass are left out: they would add half to the
    # set-up of every run
    t0 = time.perf_counter()
    warm_root = run.work / "warm"
    shutil.copytree(store.root, warm_root)
    warm_store = SnapshotStateStore(str(warm_root))
    warm_model = _Index(run.seed)
    wq, ww = make_ops(warm_store, NullTracer())
    wq(query_df(warm_model.near(ANN_QUERY_BATCH)))
    ww["upsert"](*warm_model.batch("upsert"))
    run.setup_s = run.session_start_s + rep_s + (time.perf_counter() - t0)

    instrument(store, tracer, _store_spec(run, store))
    query, writes = make_ops(store, tracer)
    query_jobs, results, layers_at_query = [], [], []
    cycles = 0
    fold_ok, probe_s = [], []
    probe = query_df(probe_q)
    start = time.perf_counter()
    while time.perf_counter() - start < run.seconds or cycles == 0:
        for kind in _cycle_plan():
            if kind == "query":
                q = query_df(model.near(ANN_QUERY_BATCH))
                layers_at_query.append(store.delta_layers(ANN_TABLE))
                before = run.counters.newest_job_id()
                ok, rows = run.timed("query", query, q)
                if ok:
                    query_jobs.append(run.counters.newest_job_id() - before)
                    results.append(_digest(rows))
                continue
            ids, vecs = model.batch(kind)
            _write(run, kind, writes[kind], ids, vecs, store, query, probe, fold_ok, probe_s)
        cycles += 1
    run.measured_s = time.perf_counter() - start - sum(probe_s)
    t0 = time.perf_counter()
    with tracer.paused():
        _ann_checks(run, store, model, recall_q, query_df, ranked)
    run.layer["checks_s"] = time.perf_counter() - t0
    lat = run.latencies
    writes_lat = [x for kind in WRITE_KINDS for x in lat.get(kind, [])]
    query_p50, write_p50 = _median_or_none(lat.get("query")), _median_or_none(writes_lat)
    # the cycle queries at 0 to 8 pending layers by design, so their
    # mean, not their median, is the cycle's cost per query
    query_cpu = float(np.mean(run.cpu["query"])) if run.cpu.get("query") else None
    run.metrics.update(
        query_p50_ms=(query_p50 and query_p50 * 1e3, "ms"),
        query_cpu_ms=(query_cpu and query_cpu * 1e3, "ms"),
        cycle_cpu_s=(sum(map(sum, run.cpu.values())) / max(1, cycles), "s"),
        write_p50_ms=(write_p50 and write_p50 * 1e3, "ms"),
        ops_per_s=(sum(map(len, lat.values())) / run.measured_s, "op/s"),
    )
    for name, xs in (("query_tail_ms", lat.get("query", [])), ("write_tail_ms", writes_lat)):
        tail = tail_percentile(xs)
        run.metrics[name] = (tail[1] * 1e3 if tail else None, "ms")
        run.layer[f"{name}.percentile"] = tail[0] if tail else None
        run.layer[f"{name}.samples"] = len(xs)
    run.layer.update(
        {
            "query_jobs": sum(query_jobs) / max(1, len(query_jobs)),
            "cycles": cycles,
            "mean_layers_at_query": float(np.mean(layers_at_query)) if layers_at_query else 0.0,
        }
    )
    run.check(
        "fold_identity",
        bool(fold_ok) and all(fold_ok),
        f"{sum(fold_ok)}/{len(fold_ok)} folds kept the probe top-10",
    )
    run.results.update(queries=_digest(results), cycles=cycles)


def _ann_checks(run: Run, store, model: _Index, recall_q: np.ndarray, query_df, ranked) -> None:
    """End-of-run checks: the store holds exactly the vectors the
    benchmark wrote, and recall@10 of ``ivfpq_query`` against the exact
    cosine top-10 over those vectors."""
    from clickhouse_k_means_spark.operators import ann_index

    spark = run.spark
    live = store.read(spark, ANN_TABLE).filter("n IS NOT NULL").select("n", "v").toPandas()
    got = dict(zip(live["n"].tolist(), (np.asarray(v) for v in live["v"])))
    same = set(got) == set(model.live) and all(
        np.array_equal(got[i], model.live[i]) for i in got
    )
    run.check("store_contents", same, f"{len(got)} live vectors, expected {len(model.live)}")
    ann = ranked(ann_index.ivfpq_query(query_df(recall_q), store, ANN_TABLE, k=ANN_TOPK))
    keys = np.fromiter(got, dtype=np.int64)
    mat = np.stack([got[i] for i in keys])
    sims = _unit(recall_q) @ _unit(mat).T
    exact = {
        (qi, int(keys[j])) for qi, row in enumerate(sims) for j in np.argsort(-row)[:ANN_TOPK]
    }
    hits = {(q, n) for q, n, *_ in ann} & exact
    recall = len(hits) / (ANN_TOPK * ANN_RECALL_QUERIES)
    run.check(
        "recall_at_10", recall >= ANN_RECALL_FLOOR, f"{recall:.4f} (floor {ANN_RECALL_FLOOR})"
    )
    stats = store.storage_stats(ANN_TABLE)
    run.metrics.update(
        recall_at_10=(recall, "ratio"),
        bytes_per_vector=((stats["live_bytes"] + stats["dead_bytes"]) / max(1, len(got)), "B"),
    )
    run.results.update(
        store=_digest(sorted((i, got[i].tobytes()) for i in got)), recall=recall
    )


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _write(run: Run, kind, write, ids, vecs, store, query, probe, fold_ok, probe_s) -> None:
    """One timed write: the write itself, the package's maintenance
    advice with its defaults, and the optimize + vacuum it asks for.
    When maintenance runs, a probe query before and after the fold
    (untimed; their time goes to ``probe_s``) must return identical
    top-10 rows."""
    from clickhouse_k_means_spark.operators.ann_index import ann_compact_due

    spark, clock = run.spark, run.clock
    run.attempted += 1
    c0, t0 = clock(), time.perf_counter()
    try:
        write(ids, vecs)
        due = ann_compact_due(store, ANN_TABLE)
        elapsed, cpu = time.perf_counter() - t0, clock() - c0
        if due:
            t1 = time.perf_counter()
            with run.tracer.paused():
                before = query(probe)
            c2, t2 = clock(), time.perf_counter()
            store.optimize(spark, ANN_TABLE)
            store.vacuum(ANN_TABLE)
            t3, c3 = time.perf_counter(), clock()
            with run.tracer.paused():
                fold_ok.append(query(probe) == before)
            elapsed += t3 - t2
            cpu += c3 - c2
            probe_s.append((t2 - t1) + (time.perf_counter() - t3))
    except Exception:
        run.failed += 1
        run.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
        return
    run.record(kind, elapsed, cpu)


WORKLOADS = {"reference_fit": reference_fit, "large_k_fit": large_k_fit, "ann_churn": ann_churn}


def per_layer(run: Run) -> dict:
    """Every per-layer metric, from the traced run's spans. Counters
    are means per call of the span; a span the workload never opens
    reads 0."""
    tot = totals(run.tracer.spans)

    def mean(span, key):
        # a maintenance pass is one optimize plus one vacuum call
        t = tot.get(span, {})
        calls = t.get("runs") if span == "sources.state.optimize" else t.get("calls")
        return t.get(key, 0) / calls if calls else 0.0

    out = {f"{span}.{c}": mean(span, c) for span in SPANS for c in SPAN_COUNTERS}

    for span in ("plans.init", "plans.lloyd", "operators.query"):
        out[f"{span}.shuffle_bytes"] = mean(span, "shuffle_bytes")
    out["plans.lloyd.steps"] = run.layer.get("plans.lloyd.steps", 0)
    run_s, cpu_s = mean("plans.lloyd", "exec_run_s"), mean("plans.lloyd", "exec_cpu_s")
    out["plans.lloyd.cpu_frac"] = cpu_s / run_s if run_s else 0.0
    # computed, not counted: 3·N·k·dim flops per step over the
    # executor CPU seconds of one step
    flops = run.layer.get("functions.lloyd.flops_per_fit", 0.0)
    steps = out["plans.lloyd.steps"]
    out["functions.lloyd.gflops"] = flops / steps / cpu_s / 1e9 if steps and cpu_s else 0.0
    out["plans.prepare.cache_mb"] = mean("plans.prepare", "cache_mb")
    q = tot.get("operators.query", {})
    rows = q.get("result_rows", 0)
    out["operators.query.rows_per_result"] = q.get("input_records", 0) / rows if rows else 0.0
    reads_in_query = sum(
        1
        for r in run.tracer.spans
        if r["name"] == "sources.state.read" and "operators.query" in r["path"]
    )
    out["operators.query.store_reads"] = reads_in_query / q["calls"] if q.get("calls") else 0.0
    out["sources.state.read.delta_layers"] = mean("sources.state.read", "delta_layers")
    out["sources.state.commit.bytes"] = mean("sources.state.commit", "bytes")
    out["sources.state.optimize.bytes_rewritten"] = mean(
        "sources.state.optimize", "bytes_rewritten"
    )
    out["sources.state.optimize.runs"] = tot.get("sources.state.optimize", {}).get("runs", 0)
    out["session.start_s"] = run.session_start_s
    return out


LAYER_UNITS = {
    "wall_s": "s",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "driver_s": "s",
    "start_s": "s",
    "jobs": "count",
    "tasks": "count",
    "steps": "count",
    "runs": "count",
    "store_reads": "count",
    "delta_layers": "count",
    "shuffle_bytes": "B",
    "bytes": "B",
    "bytes_rewritten": "B",
    "cpu_frac": "ratio",
    "rows_per_result": "ratio",
    "gflops": "GFLOP/s",
    "cache_mb": "MB",
}


def layer_unit(name: str) -> str:
    return LAYER_UNITS[name.rsplit(".", 1)[1]]
