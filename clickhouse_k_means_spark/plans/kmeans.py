"""k-means++ / Lloyd driver — the reference's full lifecycle, Spark-first.

Reference lifecycle (SURVEY §3):
- init (k-means.sh:8-13): seed centroid = arbitrary row; then k−1
  rounds of D-weighted sampling (``centroidsInit``, k-means.sql:16-33).
  NOTE the reference weights by PLAIN L2 distance (``min(dx2)`` where
  ``dx2 = L2Distance`` — k-means.sql:24), not distance² as in the
  canonical k-means++; we match the reference.
- Lloyd loop (k-means.sh:16-33): assign each point to the nearest
  centroid of the max-step model (``nearestCentroid``, k-means.sql:35-39),
  recompute per-cluster means (k-means.sql:42-46), stop when total
  centroid movement × 100 truncates to 0 (``deltaFinish``,
  k-means.sql:49-56; quirk Q5 fixed: we measure ALL centroids).

Spark design (SURVEY §3.1-3.2, §4):
- The model (k rows) lives in the DRIVER and is folded into array
  literals per iteration — cheaper than the reference's scalar-subquery
  re-read of WCR, and the Catalyst plan is a single codegen'd
  scan → distance → partial/final agg per iteration. No join for the
  model; no shuffle except the k-group aggregation.
- The points projection is ``.cache()``d once (the reference re-scans
  source every iteration — SURVEY O9); each iteration builds a FRESH
  plan from the cached points, so lineage never grows (O12).
- Randomness: all draws come from a driver-side ``random.Random(seed)``
  and enter plans as literals (quirk Q2 — ClickHouse scalar subqueries
  evaluate once per query; per-row ``rand()`` would be a different
  algorithm).
- History (``WCR`` parity): driver-held list of (step, j, C), exposed
  as a DataFrame; step labeling matches quirk Q1 (assignment under
  model s writes step s+1; init rows are step 0).

At 100 TB: each iteration is one full scan of the cached/columnar
points + n·k fused distance ops + a k-group aggregate whose shuffle
carries k rows per input partition (partial aggregation) — the same
partial/final shape the reference claims from sharded ClickHouse
(README.md:15). Empty clusters drop out of the model exactly like the
reference (model = rows of the latest step only, k-means.sql:36).
"""

from __future__ import annotations

import copy
import random
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_k_means_spark.functions.centroids import nearest_centroid_struct

Model = list[tuple[int, list[float]]]  # [(j, C), ...]


@contextmanager
def _aqe_off(spark, shuffle_partitions: int | None = None):
    """Scope for the fit's bounded driver probes: AQE off and, when
    ``shuffle_partitions`` is given, ``spark.sql.shuffle.partitions``
    set to it. Both session confs are restored on exit, exceptions
    included.

    With AQE on, every exchange-bearing query runs one JOB per query
    stage (an aggregate costs 2), and a driver loop pays that per-job
    fixed latency serially. With AQE off the whole query is one job.
    Only queries whose exchange output is bounded by construction
    belong in this scope, because nothing re-plans them:

    - the k-means|| Φ and basin-weight aggregates (global or k-group
      aggs; keep the session's partition count — its ``groupBy`` is
      not bounded by a constant);
    - the ++ pick probes (``_weighted_pick``): a bucket-sum aggregate
      over at most ``_N_BUCKETS`` groups and a window over ONE bucket
      key. Both fit in one partition, so they run with
      ``shuffle_partitions=1``. AQE off at the session's partition
      count is the wrong shape for them: the same jobs, but near-empty
      reduce tasks (k=4 fit on 100k points, 4-core local host: 58
      tasks and 2.51 s CPU per fit vs 40 and 2.30 s at one partition);
    - ``prepare_working_set``'s one global aggregate (row count,
      bad-feature count and the seeded first picks), and the same
      first pick taken on its own by an init called without one;
    - ``fit_best``'s per-restart inertia (``elbow``, one global sum).

    Every sum the picks take is exact-integer and order-free, so the
    physical layout never changes a pick (bit-identical under any
    setting of either conf); the restart inertia only ranks restarts."""
    confs = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    old = {key: spark.conf.get(key, None) for key in confs}
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed DataFrame now,
    instead of whenever the ContextCleaner gets to them. Only for
    frames nothing reads any more: a released checkpoint fails loudly
    on the next read."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


@dataclass
class KMeansResult:
    model: Model  # final (j, C) pairs, latest step
    history: list[tuple[int, int, list[float]]]  # WCR rows (step, j, C)
    n_iter: int
    converged: bool
    movements: list[float] = field(default_factory=list)

    def history_df(self, spark) -> DataFrame:
        """WCR-parity DataFrame (step bigint, j int, C array<double>)."""
        return _wcr_df(spark, self.history)


def _wcr_df(spark, rows) -> DataFrame:
    """The WCR frame of ``(step, j, C)`` rows, in ONE partition (r14,
    guide §6: createDataFrame slices k rows across defaultParallelism,
    so a step append wrote up to k near-empty files)."""
    from clickhouse_k_means_spark.sources.dataset import local_df

    return local_df(
        spark,
        [(int(s), int(j), [float(x) for x in c]) for s, j, c in rows],
        "step bigint, j int, C array<double>",
    )


def _step_appender(spark, state_store, state_table: str):
    """The WCR log writer shared by ``fit`` and ``resume_fit``: append
    each step's (step, j, C) rows to ``state_table`` as they are
    produced, one committed version per step."""

    def append(step: int, model: Model) -> None:
        rows = [(step, j, c) for j, c in model]
        state_store.append(_wcr_df(spark, rows), state_table)

    return append


def _movement(prev: Model, new: Model) -> float:
    """Total Euclidean movement of the centroids present in both
    models (``deltaFinish`` intent; quirk Q5 fixed — the reference
    accidentally checks only 2 rows per step)."""
    old = dict(prev)
    return sum(
        sum((x - y) ** 2 for x, y in zip(old[j], c)) ** 0.5
        for j, c in new
        if j in old
    )


def _dist_to(center: list[float]):
    """Distance from ``Y`` to one literal center (unrolled, codegen)."""
    return nearest_centroid_struct("Y", [(1, center)])["dist"]


def _first_salt(rng: random.Random) -> int:
    """The first pick's hash salt: the FIRST draw of a fit's
    ``Random(seed)``. The inits draw it from the fit's rng, prepare
    from a fresh ``Random(seed)``: the same pick, and every later draw
    of the init is unchanged."""
    return rng.randrange(2**31)


def _weighted_kmeans_driver(
    cands: list[list[float]], weights: list[int], k: int, rng: random.Random
) -> list[list[float]]:
    """k-means|| recluster: weighted k-means over the small candidate
    set, driver-side numpy (a few hundred rows — never the data)."""
    import numpy as np

    from clickhouse_k_means_spark.functions.vector import numpy_kmeans_weighted

    x = np.asarray(cands, dtype=np.float64)
    centers = numpy_kmeans_weighted(x, weights, k, seed=rng.randrange(2**31))
    return [list(map(float, row)) for row in centers]


class KMeansEngine:
    """Reference-parity k-means over a ``(i, Y)`` DataFrame (the YH
    contract, sources/dataset.py)."""

    def __init__(
        self,
        k: int = 4,
        seed: int = 42,
        max_iter: int = 100,
        one_delta: float = 100.0,
        squared_weights: bool = False,
        mean_scales: list[int] | None = None,
        init: str = "plusplus",
    ):
        # one_delta: the convergence scale constant (k-means.sql:50);
        # stop when trunc(total_movement * one_delta) == 0.
        # squared_weights=True gives canonical k-means++ D² sampling;
        # False (default) matches the reference's plain-distance weights.
        #
        # mean_scales (one integer scale per dimension) switches the fit
        # into REPRODUCIBLE mode: features are fixed-point at those
        # scales (e.g. [100, 100, 10000] for cents/basis-points), so
        # - Lloyd means become exact-BIGINT sums divided once
        #   (order-independent — native avg() over doubles depends on
        #   partition/combine order),
        # - the seeded first pick (``_first_pick``, both inits) orders
        #   by the portable md5 hash64 instead of xxhash64, and
        # - the ++ pick bucket derives from the integerized dims
        #   (prime-weighted arithmetic) instead of xxhash64.
        # Every draw is then a pure function of (data, seed): identical
        # on any cluster size, partition layout — or engine. The DuckDB
        # oracle replays the ENTIRE fit bit-for-bit on this mode
        # (__spark_entry__ kmeans_fit_history).
        # init='plusplus' (reference parity: k−1 sequential weighted
        # picks — linear in k with a per-round job-latency floor) or
        # 'parallel' (k-means||, Bahmani et al.: a CONSTANT number of
        # oversampling rounds independent of k, then a driver-side
        # weighted recluster of the ~2k·rounds candidates — the large-k
        # init; kills the 63-sequential-round init at k=64).
        if init not in ("plusplus", "parallel"):
            raise ValueError(f"unknown init {init!r}")
        self.k = k
        self.seed = seed
        self.max_iter = max_iter
        self.one_delta = one_delta
        self.squared_weights = squared_weights
        self.mean_scales = mean_scales
        self.init = init

    # prime multipliers for the reproducible-mode bucket hash: bucket =
    # pmod(Σ_d round(Y[d]·scale_d)·_BUCKET_PRIMES[d], _N_BUCKETS) —
    # plain integer arithmetic, replayable in ANSI SQL
    _BUCKET_PRIMES = [31, 17, 1, 13, 7, 23, 3, 11]

    def _bucket_col(self, dim: int):
        if self.mean_scales is None:
            return F.pmod(F.xxhash64(F.lit(7), F.col("Y")), F.lit(self._N_BUCKETS))
        acc = None
        for d in range(dim):
            p = self._BUCKET_PRIMES[d % len(self._BUCKET_PRIMES)]
            term = F.round(F.col("Y")[d] * self.mean_scales[d]).cast("bigint") * p
            acc = term if acc is None else acc + term
        return F.pmod(acc, F.lit(self._N_BUCKETS))

    # ---- initialization (k-means.sh:8-13, k-means.sql:16-33) ----

    def _first_pick(self, salt: int):
        """The seeded first centroid as ONE aggregate expression: the
        ``Y`` of the row with the smallest ``(h, i, Y)``, ``h`` the key
        hashed with ``salt`` — in ``prepare_working_set``'s aggregate,
        or alone when an init is called without a pick.

        The reference picks a random offset within the first ~100
        storage-order rows (k-means.sh:9, quirk Q4 — a bias, not a
        spec); we draw uniformly over all rows, a documented deviation.
        Hashing the key, NOT ``F.rand``, keeps the pick independent of
        the partition layout; reproducible mode uses the md5-based
        ``hash64`` (the DuckDB twin). Ties on ``(h, i)`` break on ``Y``
        (r4, r14): the YH contract allows duplicate keys with different
        payloads, and scan order made the whole fit flip between runs."""
        if self.mean_scales is not None:
            from clickhouse_k_means_spark.functions.hashing import hash64

            h = hash64(F.col("i").cast("string"), salt=salt)
        else:
            h = F.xxhash64(F.lit(salt), F.col("i"))
        return F.min_by("Y", F.struct(h, F.col("i"), F.col("Y")))

    def _seed_point(self, yh: DataFrame, salt: int, first) -> list[float]:
        """``first`` (prepare's pick), else ``_first_pick(salt)`` over
        ``yh`` in one bounded job; no row means an empty input."""
        if first is None:
            with _aqe_off(yh.sparkSession, shuffle_partitions=1):
                first = yh.agg(self._first_pick(salt)).collect()[0][0]
            if first is None:
                raise ValueError("k-means: input DataFrame is empty")
        return list(first)

    def init_centroids(
        self, yh: DataFrame, rng: random.Random | None = None, first=None
    ) -> Model:
        """k-means++ init: the seeded first pick (``first`` when the
        caller's prepare made it, else ``_first_pick`` over ``yh``),
        then k−1 weighted picks (``_weighted_pick``)."""
        rng = rng or random.Random(self.seed)
        model: Model = [(1, self._seed_point(yh, _first_salt(rng), first))]
        if self.k == 1:
            return model
        # Incremental min-distance maintenance (the classic k-means++
        # optimization): the cached state carries each DISTINCT
        # candidate's distance to the NEAREST chosen centroid; every
        # round folds in only the newest centroid with least(d, dist),
        # so total distance work is O(k·n) instead of the reference's
        # O(k²·n) re-scan (centroidsInit recomputes the full min each
        # round, k-means.sql:24-26). Exclusion `Y not in centroids`
        # (k-means.sql:27) becomes `d > 0` — equivalent for L2.
        bucket = self._bucket_col(len(model[0][1]))

        # localCheckpoint (NOT cache): each round derives the new state
        # from the old one, and chained cached plans grow the analyzed
        # lineage every round — plan canonicalization/cache-matching
        # cost explodes superlinearly past ~12 rounds (SURVEY O12).
        # Checkpointing truncates lineage to a flat scan per round. On a
        # real cluster swap for reliable checkpointing if executor loss
        # during init matters (init is cheap to restart regardless).
        #
        # LAZY checkpoints: a round's state is materialized by the first
        # job that reads it — the next pick's bucket-sum aggregate —
        # and is checkpointed right after that job, so the pick's window
        # and the following round read flat blocks, never a chain. Each
        # pick is then exactly two jobs (bucket sums, in-bucket window)
        # and no round pays a standalone materialization job. This is
        # NOT the lazy least() chain over one cached base that measured
        # slower and was reverted (b7498f5): that shape re-evaluated the
        # whole chain per probe and ran its exchanges at 32 partitions.
        # A/B on 100k 3-d points, k=4, 4-core local host, one JVM, 10
        # alternating fits per variant: 24 → 12 jobs per fit (init
        # 17 → 8), median fit CPU 2.53 → 2.30 s, identical models.
        #
        # The distinct state is built with AQE on (its exchange scales
        # with the data, AQE sizes it by bytes); the per-pick probes
        # run in the bounded one-partition scope (see _aqe_off).
        states = [
            yh.select("Y")
            .distinct()
            .select("Y", _dist_to(model[0][1]).alias("d"), bucket.alias("b"))
            .localCheckpoint(eager=False)
        ]
        try:
            with _aqe_off(yh.sparkSession, shuffle_partitions=1):
                for j in range(2, self.k + 1):
                    c = self._weighted_pick(states[-1], rng, round_no=j)
                    model.append((j, c))
                    # the pick's aggregate just materialized states[-1];
                    # its predecessor is no longer read by anything
                    for old in states[:-1]:
                        _release_checkpoint(old)
                    del states[:-1]
                    if j < self.k:
                        states.append(
                            states[-1]
                            .select(
                                "Y", F.least(F.col("d"), _dist_to(c)).alias("d"), "b"
                            )
                            .localCheckpoint(eager=False)
                        )
        finally:
            for old in states:
                _release_checkpoint(old)
        return model

    # weight quantization for the ++ sampling: 2^20 steps per distance
    # unit — exact BIGINT cumulative sums (order-free, deterministic)
    _W_SCALE = 1 << 20
    _N_BUCKETS = 64
    # k·dim threshold above which Lloyd assignment switches from the
    # unrolled struct-min to the Arrow-batched matmul (k=4..8 small
    # fits and every oracle-replayed reproducible fit stay unrolled;
    # k>=16 at dim 3 crosses over)
    _ARROW_ASSIGN_CELLS = 48

    def _weighted_pick(
        self, state: DataFrame, rng: random.Random, round_no: int
    ) -> list[float]:
        """One k-means++ pick (``centroidsInit``, k-means.sql:16-33).

        ``state`` is the cached ``(Y, d, b)`` candidate set: d = min
        distance to the chosen centroids, b = hash bucket. Weight =
        d (reference parity) or d² (canonical, squared_weights);
        cumulative-sum inverse-CDF pick at one driver-drawn threshold
        U (quirk Q2). The reference's window has no ORDER BY (block
        order); any fixed order is a valid inverse-CDF permutation
        (W2 note) — we use (hash-bucket, Y).

        Scale design: NO global single-task cumsum. Two phases —
        (1) per-bucket weight sums (parallel aggregation, one small
        row per bucket to the driver), (2) the driver locates the
        bucket whose cumulative range contains the threshold, and only
        THAT bucket's rows (≈ n/_N_BUCKETS) get a windowed cumsum.
        Weights are quantized to exact BIGINTs so every sum is
        order-independent and the pick is bit-deterministic.
        """
        from clickhouse_k_means_spark.operators.sampling import two_phase_pick

        d = F.col("d")
        w = d * d if self.squared_weights else d
        weighted = state.filter(d > 0).select(
            "Y", F.round(w * self._W_SCALE).cast("bigint").alias("w"), "b"
        )
        u = rng.random()
        try:
            pick = two_phase_pick(weighted, u, weight="w", bucket="b", order=("Y",))
            return list(pick.select("Y").collect()[0][0])
        except ValueError:
            # zero total weight: either no candidates at all (k exceeds
            # the number of DISTINCT points — the reference would
            # silently insert nothing here, k-means.sql:27-28; we fail
            # loudly) or degenerate duplicates that all quantized to
            # weight 0 (pick an arbitrary deterministic candidate).
            first = weighted.orderBy("Y").select("Y").limit(1).collect()
            if not first:
                raise ValueError(
                    f"k-means++ round {round_no}: no candidate points left — "
                    f"k={self.k} exceeds the number of distinct points"
                ) from None
            return list(first[0][0])

    # ---- k-means|| init (Bahmani et al., VLDB'12) ----

    def init_centroids_parallel(
        self,
        yh: DataFrame,
        rng: random.Random | None = None,
        n_rounds: int = 3,
        oversample: int | None = None,
        first=None,
    ) -> Model:
        """k-means|| initialization: the seeded first candidate (the
        ++ init's ``_first_pick``, or ``first`` when the caller's
        prepare made it), then ``n_rounds`` oversampling passes
        (each expecting ~``oversample`` = 2k new candidates drawn with
        probability ∝ D²), then a driver-side weighted k-means++ /
        Lloyd recluster of the small candidate set down to k.

        Round count is CONSTANT in k — the large-k replacement for the
        sequential ++ init (k=64 means 3 candidate rounds, not 63
        picks). Default 3 rounds (r5; was 5): measured at k=64 sf0.1,
        3 rounds fit in 16.3 s vs 28.9 s at 5 with inertia EQUAL
        (1.3644e11 vs 1.3665e11 — both beat MLlib's 1.445e11), while
        2 rounds gave up 4% inertia; MLlib's own k-means|| default is
        2 steps. 3·2k oversampled candidates comfortably exceed k at
        any k, and the recluster quality saturates once candidates
        cover every basin.

        Scale shapes, deliberately chosen:
        - per-round distance refresh is ONE narrow Arrow-batched pass:
          ``least(d2, min_sq_dist_batch(new_batch)(Y))`` — no join, no
          shuffle, no unrolled expression tree (r4: the previous
          broadcast-join + groupBy-on-array-key form shuffled the full
          distinct point set EVERY round and dominated init time —
          measured 49 s at k=64 sf0.1; the matmul form is seconds).
        - the cost Φ is an exact-BIGINT sum of quantized D² (order-free
          → the sampling thresholds are bit-deterministic on any
          partition layout; per-row matmul results are independent of
          Arrow batch composition).
        - per-point sampling uses seeded xxhash64 uniforms, so the draw
          is a pure function of (seed, round, Y) — partition-independent
          and replayable.
        """
        from clickhouse_k_means_spark.functions.vector import (
            min_sq_dist_batch,
            nearest_cells_batch,
        )
        rng = rng or random.Random(self.seed)
        ell = oversample or 2 * self.k
        salt = _first_salt(rng)
        cands: list[list[float]] = [self._seed_point(yh, salt, first)]

        def refresh(points: DataFrame, batch: list[list[float]]) -> DataFrame:
            """Fold a candidate batch into the running min-D² — one
            narrow Arrow pass, no shuffle."""
            nd2 = min_sq_dist_batch([list(map(float, v)) for v in batch])
            base = (
                F.col("d2") if "d2" in points.columns else F.lit(float("inf"))
            )
            return points.select(
                "Y", "cnt", F.least(base, nd2(F.col("Y"))).alias("d2")
            )

        # distinct points WITH multiplicities: the same shuffle a plain
        # distinct() pays, but carrying cnt lets the final basin-weight
        # aggregation run over this (smaller) relation instead of a
        # second full-corpus Arrow pass (r5 — was ~30% of init time).
        # Φ/sampling read only (Y, d2), so the draw is bit-identical to
        # the distinct() form.
        base_pts = yh.select("Y").groupBy("Y").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # cache, not eager localCheckpoint (r14, guide §1.2): each
        # round's Φ aggregation is the action that materializes the
        # current state's cache — the standalone per-round
        # materialization job (and its state-sized checkpoint write)
        # disappears, cutting one job per round. The values are
        # bit-identical (same arithmetic over the same rows; Φ is an
        # order-free exact decimal sum); chain depth is bounded by
        # n_rounds (3-5), far under the SURVEY O12 lineage threshold.
        # Predecessor caches are dropped once the successor is
        # materialized (and all of them on exit).
        pinned: list[DataFrame] = []

        def _pin(df: DataFrame) -> DataFrame:
            pinned.append(df.cache())
            return pinned[-1]

        try:
            with _aqe_off(yh.sparkSession):  # see _aqe_off: the Φ
                # aggs and the basin-weight agg are fixed-shape
                # bounded probes; one job each instead of one per
                # query stage
                state = _pin(refresh(base_pts, cands))
                for r in range(n_rounds):
                    # Φ as an exact integer (quantized) — order-free, so the
                    # per-row threshold below is deterministic on any layout.
                    # DECIMAL(38,0) accumulator, not BIGINT: squared distances
                    # of large-magnitude features (lineitem price ~5e4 → D² ~
                    # 2.5e9 → quantized ~2.6e15/row) overflow a long across
                    # ~600k rows; decimal sums stay exact to 38 digits.
                    # (A broadcast-subquery fusion of the Φ agg into the
                    # threshold scan was measured r5 and reverted: the
                    # BroadcastExchange spawns its own job, so the two-job form
                    # is the same wall time with simpler code.)
                    q = F.round(F.col("d2") * self._W_SCALE).cast("decimal(38,0)")
                    phi_dec = state.agg(F.sum(q)).collect()[0][0]
                    # this agg just materialized `state`'s cache — predecessors
                    # are no longer read by anything; release their storage
                    for old in pinned[:-1]:
                        old.unpersist()
                    del pinned[:-1]
                    phi = int(phi_dec) if phi_dec is not None else 0
                    if not phi:
                        break  # every point coincides with a candidate
                    u53 = (
                        F.shiftrightunsigned(
                            F.xxhash64(F.lit(salt), F.lit(r), F.col("Y")), 11
                        ).cast("double")
                        / F.lit(float(1 << 53))
                    )
                    p = (
                        F.lit(float(ell))
                        * F.round(F.col("d2") * self._W_SCALE).cast("double")
                        / F.lit(float(phi))
                    )
                    # sort the sampled batch: collect() order is partition-
                    # dependent, and the driver recluster consumes candidates
                    # by index — without this the final model varies run-to-run
                    # on the same (data, seed)
                    rows = state.filter(u53 < p).select("Y").collect()
                    new = sorted(list(row["Y"]) for row in rows)
                    if not new:
                        continue
                    cands.extend(new)
                    state = _pin(refresh(state, new))
                if len(cands) < self.k:
                    raise ValueError(
                        f"k-means||: only {len(cands)} candidates after {n_rounds} "
                        f"rounds for k={self.k} — raise oversample/n_rounds "
                        "(or the input has fewer distinct points than k)"
                    )

                # weight candidates by their attraction basin size (duplicates
                # count — basin size is a point count, not a distinct-point
                # count): one Arrow argmin pass over the DISTINCT state with
                # the carried multiplicities, then a tiny groupBy on the
                # candidate index (ties → lowest index, matching the
                # struct-min convention). Identical weights to a full-corpus
                # pass — every duplicate shares its Y's argmin — at the
                # distinct-set's fraction of the cost.
                nearest = nearest_cells_batch([list(map(float, v)) for v in cands])
                weights_rows = (
                    state.select(nearest(F.col("Y"))[0].alias("cid"), "cnt")
                    .groupBy("cid")
                    .agg(F.sum("cnt").alias("w"))
                    .collect()
                )
        finally:
            for df in pinned:
                df.unpersist()
        weights = {r["cid"]: int(r["w"]) for r in weights_rows}
        model = _weighted_kmeans_driver(
            cands, [weights.get(i, 0) for i in range(len(cands))], self.k, rng
        )
        return [(j + 1, c) for j, c in enumerate(model)]

    # ---- Lloyd iterations (k-means.sh:16-33, k-means.sql:35-46) ----

    def lloyd_step(
        self,
        yh: DataFrame,
        model: Model,
        dim: int,
        n_parts: int | None = None,
    ) -> Model:
        """Assign + recompute means — one reference loop pass
        (``nearestCentroid`` + the INSERT at k-means.sql:42-46).

        Reproducible mode computes each mean as an exact-BIGINT sum of
        the fixed-point features divided once — order-independent,
        unlike native avg() whose double partial sums combine in
        partition-completion order.

        Physical form (r9): every NON-reproducible Lloyd step runs the
        fused single-stage Arrow form (``_lloyd_step_fused``) — not
        just large k. The fit loop is inherently sequential driver
        jobs, so per-step overhead dominates: at k=4/sf0.1 the unrolled
        groupBy-agg form re-runs Catalyst + Janino on a NEW plan every
        step (the model literals change) and measured [5.7-10.4] s per
        3-rep fit run-to-run, while the fused form — one narrow stage,
        no codegen, no agg exchange — measured a stable [7.25-7.70]
        with numerically identical models (r9 experiment, BASELINE.md).
        At k=64 the gap is larger still (7.5 s/step of codegen, the r4
        fix). Reproducible mode (``mean_scales``) always keeps the
        unrolled codegen form — its DuckDB full-replay oracle depends
        on that exact float fold order. ``assign()`` (the one-pass
        delivery path, fused into user pipelines) keeps the k·dim
        threshold: there codegen wins below it
        (test_small_k_assignment_stays_codegen pins that design)."""
        if self.mean_scales is None:
            return self._lloyd_step_fused(yh, model, dim, n_parts=n_parts)
        j = nearest_centroid_struct("Y", model)["j"]
        aggs = []
        for dd in range(dim):
            s = self.mean_scales[dd]
            aggs.append(
                (
                    F.sum(F.round(F.col("Y")[dd] * s).cast("bigint")).cast("double")
                    / (F.lit(float(s)) * F.count(F.lit(1)).cast("double"))
                ).alias(f"c{dd}")
            )
        rows = yh.select(j.alias("j"), "Y").groupBy("j").agg(*aggs).collect()
        return sorted(
            (int(r["j"]), [float(r[f"c{dd}"]) for dd in range(dim)]) for r in rows
        )

    # distributed partial-combine kicks in above this partition count
    # (k × P collected rows stay tiny below it; above it the combine
    # is a k×P-row shuffle, never a data-scale one)
    _FUSED_COLLECT_MAX_PARTITIONS = 512

    def _lloyd_step_fused(
        self,
        yh: DataFrame,
        model: Model,
        dim: int,
        n_parts: int | None = None,
    ) -> Model:
        """Large-k Lloyd step as ONE narrow job (VERDICT r6 item 4):
        ``mapInPandas`` fuses the Arrow matmul assignment with
        map-side (cell, count, per-dim sum) partials, so each step
        launches a single stage — the previous shape (pandas-UDF
        assignment stage, then hash-agg + exchange + final agg) paid
        ~0.6 s/step of extra stage/codegen latency at local scale.

        Partials are ≤ k rows per partition. Locally they are combined
        on the driver (k × P rows, trivially small); past
        ``_FUSED_COLLECT_MAX_PARTITIONS`` partitions the combine runs
        as a groupBy over the k×P partial rows instead — the 100 TB
        path shuffles centroid partials, never points (MLlib's
        treeAggregate shape expressed relationally).
        """
        from clickhouse_k_means_spark.functions.vector import (
            lloyd_partials_batch,
        )

        ordered = sorted(model)  # index order == ascending j
        fn, schema = lloyd_partials_batch(
            [list(map(float, c)) for _, c in ordered]
        )
        partials = yh.select("Y").mapInPandas(fn, schema=schema)
        # the fit loop passes the working set's partition count once
        # (VERDICT r12: the .rdd conversion forces a plan translation,
        # and paying it EVERY sequential step adds up); one-off callers
        # fall back to computing it here
        if n_parts is None:
            n_parts = yh.rdd.getNumPartitions()
        if n_parts > self._FUSED_COLLECT_MAX_PARTITIONS:
            agg = [F.sum("cnt").alias("cnt")] + [
                F.sum(f"s{d}").alias(f"s{d}") for d in range(dim)
            ]
            rows = partials.groupBy("cell").agg(*agg).collect()
        else:
            rows = partials.collect()
        sums = {}
        cnts = {}
        for r in rows:
            cell = int(r["cell"])
            cnts[cell] = cnts.get(cell, 0) + int(r["cnt"])
            acc = sums.setdefault(cell, [0.0] * dim)
            for d in range(dim):
                acc[d] += float(r[f"s{d}"])
        return sorted(
            (int(ordered[cell][0]), [s / cnts[cell] for s in sums[cell]])
            for cell in cnts
        )

    def prepare_working_set(self, yh: DataFrame, seeds=()):
        """Materialize the fit's iteration working set — the ONE setup
        ``fit``, ``fit_best`` and ``resume_fit`` run, and the fit's only
        probe of its input.

        Returns ``(cached, working, n_parts, picks)``: the CACHED handle
        (the caller must ``cached.unpersist()`` when done — kept
        separate from the working handle so the unpersist hits the
        real cache entry, ADVICE r5), the possibly-coalesced working
        handle every Lloyd pass should run on, the working handle's
        partition count (computed ONCE here so the sequential fit loop
        never pays the per-step ``.rdd`` plan translation, VERDICT
        r12), and per entry of ``seeds`` the first centroid both inits
        pick for that seed (``_first_pick``).

        Cost: the cache is filled by ONE global aggregate: the row
        count, the count of rows whose ``Y`` is NULL or holds a NULL,
        NaN or infinite element, and the picks (the arity is the first
        pick's). Empty input, a bad feature or arity 0 raise a named
        ``ValueError`` here. The aggregate runs in the bounded
        ``_aqe_off`` scope: the cached plan (and so the repartition's
        width) is fixed when ``cache()`` is called, before the scope,
        and a global aggregate's exchange carries one row per
        partition. That is at most 2 jobs: the cached plan's
        repartition stage, then the aggregate.

        Layout contract: same partition layout => same double-
        summation order => bit-identical steps — which is why
        ``resume_fit`` must run the IDENTICAL prep."""
        # spread narrow sources to full parallelism before caching: a
        # single-file scan yields few partitions, and every Lloyd
        # iteration would inherit that narrow parallelism from cache.
        spark = yh.sparkSession
        sc = spark.sparkContext
        if yh.rdd.getNumPartitions() < sc.defaultParallelism:
            yh = yh.repartition(sc.defaultParallelism)
        cached = yh.select("i", "Y").cache()
        # array_contains is NULL for a NULL Y or a NULL element with no
        # match: both count as bad. Codegen, unlike an exists() lambda
        # (the aggregate on 100k cached rows, 4 cores: 98 vs 117 ms).
        bad = F.coalesce(
            F.array_contains("Y", float("nan"))
            | F.array_contains("Y", float("inf"))
            | F.array_contains("Y", float("-inf")),
            F.lit(True),
        )
        try:
            with _aqe_off(spark, shuffle_partitions=1):
                n, n_bad, *picks = cached.agg(
                    F.count(F.lit(1)),
                    F.count_if(bad),
                    *[self._first_pick(_first_salt(random.Random(s))) for s in seeds],
                ).collect()[0]
            if n == 0:
                raise ValueError("k-means: input DataFrame is empty")
            if n_bad:
                raise ValueError(
                    f"k-means: {n_bad} of {n} rows of Y are NULL or hold a "
                    "NULL, NaN or infinite feature"
                )
            if picks and not picks[0]:
                raise ValueError("k-means: Y must have arity >= 1")
            # right-size the iteration working set: below ~50k rows
            # per task the per-iteration cost is task-launch overhead,
            # not compute. coalesce is NARROW over the cached blocks
            # (no second copy), so small inputs stop paying 32-task
            # latency on every Lloyd pass while huge inputs keep full
            # width.
            width = cached.rdd.getNumPartitions()
            target = max(4, min(width, (n // 50_000) + 1))
            working = cached.coalesce(target) if target < width else cached
        except Exception:
            cached.unpersist()
            raise
        return cached, working, min(target, width), [list(p) for p in picks]

    def has_converged(self, moved: float) -> bool:
        """The reference's stop test (k-means.sh:16-33 loop +
        k-means.sql delta): ``toUInt32(moved / delta)`` truncates to 0
        — quantized, NOT a float epsilon compare. Shared by the fit
        loop, ``resume_fit``'s log-replay check, and the profiler
        (ADVICE r12: one predicate, no drift)."""
        return int(moved * self.one_delta) == 0

    def fit(
        self,
        yh: DataFrame,
        state_store=None,
        state_table: str = "wcr",
    ) -> KMeansResult:
        """Run init + Lloyd loop; optionally persist WCR state per step.

        ``state_store`` (a ``sources.state.SnapshotStateStore``) maps
        the reference's per-step ``INSERT INTO WCR SELECT ...``
        (k-means.sql:42-46 executed by the k-means.sh loop): each
        step's (step, j, C) rows are appended to ``state_table`` AS
        PRODUCED — one committed version per step, so a crash mid-fit
        leaves a resumable log (``resume_fit``). k rows per append:
        driver-side createDataFrame is the right tool, no distributed
        state involved.
        """
        if self.k < 1:
            raise ValueError(f"k must be >= 1, got {self.k}")
        persist_step = (
            None
            if state_store is None
            else _step_appender(yh.sparkSession, state_store, state_table)
        )
        cached, working, n_parts, (first,) = self.prepare_working_set(
            yh, seeds=(self.seed,)
        )
        try:
            return self._fit_on_prepared(
                working, n_parts, first=first, persist_step=persist_step
            )
        finally:
            cached.unpersist()

    def _fit_on_prepared(
        self,
        working: DataFrame,
        n_parts: int,
        first: list[float] | None = None,
        persist_step=None,
    ) -> KMeansResult:
        """Init + Lloyd loop over an ALREADY-MATERIALIZED working set —
        the fit body without ``prepare_working_set`` (r14, guide §1.2:
        ``bisecting_fit`` re-paid a repartition + cache + emptiness
        probe + count per split on subsets it had just
        localCheckpoint-ed; ~4 jobs × k−1 splits of pure overhead).
        ``first`` is prepare's seeded first pick for this engine's
        seed; without it the init takes the pick itself.
        The caller owns the layout contract: ``working`` must be
        materialized (cached or checkpointed) with a deterministic
        partitioning, because every Lloyd pass re-reads it and the
        double-summation order follows the partition layout."""
        rng = random.Random(self.seed)
        # dispatch on the configured init (r4: this was silently
        # always-sequential before — init='parallel' was validated
        # in __init__ but never consulted here)
        if self.init == "parallel":
            model = self.init_centroids_parallel(working, rng, first=first)
        else:
            model = self.init_centroids(working, rng, first=first)
        persist_step = persist_step or (lambda step, model: None)
        persist_step(0, model)
        return self._run_lloyd(
            working, len(model[0][1]), model, [(0, j, c) for j, c in model], 1,
            persist_step, n_parts=n_parts,
        )

    def _run_lloyd(
        self, yh, dim, model, history, start_step, persist_step,
        n_parts: int | None = None,
    ) -> KMeansResult:
        """The Lloyd convergence loop from ``start_step`` (shared by
        ``fit`` and ``resume_fit`` — steps are deterministic given a
        model, so a resumed loop replays the uninterrupted one)."""
        movements: list[float] = []
        converged = False
        step = start_step - 1
        for step in range(start_step, self.max_iter + 1):
            new_model = self.lloyd_step(yh, model, dim, n_parts=n_parts)
            history.extend((step, j, c) for j, c in new_model)
            persist_step(step, new_model)
            moved = _movement(model, new_model)
            movements.append(moved)
            model = new_model
            if self.has_converged(moved):  # toUInt32 truncation
                converged = True
                break
        return KMeansResult(model, history, step, converged, movements)

    def resume_fit(
        self,
        yh: DataFrame,
        state_store,
        state_table: str = "wcr",
    ) -> KMeansResult:
        """Crash recovery: continue a fit from its persisted step log.

        Reads the ``(step, j, C)`` state ``fit(state_store=...)``
        appends, restores the LATEST persisted model, and runs the
        remaining Lloyd iterations (appending further steps to the
        same table). Because Lloyd steps are deterministic given a
        model, the resumed result is bit-identical to the fit that
        would have run uninterrupted — the returned history includes
        the restored prior steps, so ``delta_finish``/chart replays
        see one continuous fit.
        """
        spark = yh.sparkSession
        rows = state_store.read(spark, state_table).collect()
        if not rows:
            raise ValueError(f"resume_fit: state table {state_table!r} is empty")
        by_step: dict[int, list] = {}
        for r in rows:
            by_step.setdefault(int(r["step"]), []).append(
                (int(r["j"]), [float(x) for x in r["C"]])
            )
        last = max(by_step)
        model = sorted(by_step[last])
        if len(model) != self.k:
            raise ValueError(
                f"resume_fit: persisted model has k={len(model)}, engine k={self.k}"
            )
        history = [
            (s, j, c) for s in sorted(by_step) for j, c in sorted(by_step[s])
        ]
        # the log itself tells us whether the fit had already
        # converged: replay the convergence test on the last two
        # persisted models (driver-side, k rows each). Without this a
        # crash AFTER convergence would replay an extra Lloyd step
        # from the converged model — overshooting the original fit.
        if last >= 1 and (last - 1) in by_step:
            moved = _movement(by_step[last - 1], model)
            if self.has_converged(moved):
                return KMeansResult(model, history, last, True, [moved])

        # identical working-set prep to fit() — same partition layout
        # => same double-summation order => the resumed steps are
        # bit-identical to the uninterrupted fit's. The restored model
        # needs no first pick; its arity is the fit's.
        cached, working, n_parts, _ = self.prepare_working_set(yh)
        try:
            return self._run_lloyd(
                working, len(model[0][1]), model, history, last + 1,
                _step_appender(spark, state_store, state_table),
                n_parts=n_parts,
            )
        finally:
            cached.unpersist()

    def fit_best(self, yh: DataFrame, n_init: int = 3) -> KMeansResult:
        """Multi-restart fit: run ``n_init`` seeded fits, keep the one
        with the lowest squared inertia (sklearn's ``n_init`` idiom).

        The reference has no restarts — a bad k-means++ draw (its
        plain-distance weights make those likelier than canonical D²)
        just converges to a worse local optimum and the user eyeballs
        the chart (README.md:43). This is the engine-grade fix.

        ONE ``prepare_working_set`` makes every restart's first pick;
        each restart (the caller's engine, only the seed changed) runs
        init and Lloyd on that working set, as ``fit`` would.
        """
        from clickhouse_k_means_spark.plans.optimal_k import elbow

        seeds = [self.seed + r for r in range(n_init)]
        cached, working, n_parts, picks = self.prepare_working_set(yh, seeds=seeds)
        best: tuple[float, KMeansResult] | None = None
        try:
            for seed, first in zip(seeds, picks):
                eng = copy.copy(self)  # every setting but the seed
                eng.seed = seed
                res = eng._fit_on_prepared(working, n_parts, first=first)
                with _aqe_off(working.sparkSession):
                    inertia = elbow(working, res.model, squared=True)
                if best is None or inertia < best[0]:
                    best = (inertia, res)
            return best[1]
        finally:
            cached.unpersist()

    # ---- results delivery (k-means.sql:35-39, README.md:45-47) ----

    def assign(self, yh: DataFrame, model: Model) -> DataFrame:
        """(i, j, dist) — final membership, joinable back to source by i.

        Same two physical forms as ``lloyd_step``: unrolled struct-min
        for small models, Arrow matmul argmin above the k·dim
        threshold — there the distance to the CHOSEN centroid is an
        O(dim) expression over an array-literal lookup (independent of
        k), so only the argmin itself leaves codegen.
        """
        k = len(model)
        dim = len(model[0][1]) if model else 0
        if self.mean_scales is None and k * dim >= self._ARROW_ASSIGN_CELLS:
            from clickhouse_k_means_spark.functions.vector import (
                nearest_cells_batch,
            )

            ordered = sorted(model)
            cells = nearest_cells_batch([list(map(float, c)) for _, c in ordered])
            idx = cells(F.col("Y").cast("array<double>"))[0]
            js_lit = F.array(*[F.lit(int(j)) for j, _ in ordered])
            cs_lit = F.array(
                *[F.array(*[F.lit(float(x)) for x in c]) for _, c in ordered]
            )
            picked = F.element_at(cs_lit, F.col("__idx") + 1)
            sq = None
            for d in range(dim):
                t = F.col("Y")[d] - picked[d]
                sq = t * t if sq is None else sq + t * t
            return (
                yh.select("i", "Y", idx.alias("__idx"))
                .select(
                    "i",
                    F.element_at(js_lit, F.col("__idx") + 1).alias("j"),
                    F.sqrt(sq).alias("dist"),
                )
            )
        s = nearest_centroid_struct("Y", model)
        return yh.select("i", s["j"].alias("j"), s["dist"].alias("dist"))


def delta_finish(
    history: DataFrame, one_delta: float = 100.0, reference_bug: bool = False
) -> int:
    """Convergence metric computed from the WCR history TABLE — the
    reference's ``deltaFinish`` view (k-means.sql:49-56): per centroid,
    the distance between its two latest positions; summed, scaled by
    ``one_delta`` (k-means.sql:50) and truncated (``toUInt32``).

    ``reference_bug=True`` reproduces quirk Q5 bug-for-bug: the
    reference's inner query uses ``LIMIT 2 BY step`` (k-means.sql:54)
    — the first two rows of each step in read order, i.e. effectively
    only centroids j=1,2 ever reach the movement sum. The default
    measures ALL centroids (the evident intent; what ``fit`` uses for
    its stopping rule). Centroids present in fewer than two steps are
    skipped (the reference's ``l[2]`` would default to the origin —
    an artifact, not a semantic).
    """
    from clickhouse_k_means_spark.functions.distance import l2_distance
    from clickhouse_k_means_spark.operators.limit_by import limit_by

    base = history
    if reference_bug:
        base = limit_by(history, 2, by="step", order=[F.col("j").asc()])
    ranked = limit_by(base, 2, by="j", order=[F.col("step").desc()])
    latest = limit_by(ranked, 1, by="j", order=[F.col("step").desc()]).select(
        "j", F.col("C").alias("C1"), F.col("step").alias("s1")
    )
    prev = ranked.join(
        latest.select("j", "s1"), "j"
    ).filter(F.col("step") < F.col("s1")).select("j", F.col("C").alias("C2"))
    row = (
        latest.join(prev, "j")
        .agg(F.sum(l2_distance("C1", "C2")).alias("d"))
        .collect()[0]
    )
    total = row["d"] or 0.0
    return int(total * one_delta)


def mllib_kmeans(yh: DataFrame, k: int = 4, seed: int = 42, max_iter: int = 100):
    """MLlib fast path behind the same (i, Y) contract.

    Uses k-means|| init (Bahmani et al.) — different init than the
    reference's sequential ++ (comparable inertia, not identical
    centroids). Returns (assignments_df(i, j, dist), model_centers).
    """
    from pyspark.ml.clustering import KMeans as MlKMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vec = yh.select("i", array_to_vector(F.col("Y").cast("array<double>")).alias("features"))
    km = MlKMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="features")
    fitted = km.fit(vec)
    centers = [(idx + 1, [float(x) for x in c]) for idx, c in enumerate(fitted.clusterCenters())]
    pred = fitted.transform(vec).select(
        "i", (F.col("prediction") + 1).alias("j"), "features"
    )
    arr = pred.select("i", "j", vector_to_array("features").alias("Y"))
    # distance to the assigned center via the model literal arrays
    # (MLlib's own assignment is argmin, so nearest == assigned):
    s = nearest_centroid_struct("Y", centers)
    return arr.select("i", "j", s["dist"].alias("dist")), centers


def bisecting_fit(
    yh: DataFrame,
    k: int,
    seed: int = 42,
    max_iter: int = 20,
    min_rows: int = 2,
) -> tuple[DataFrame, Model]:
    """Bisecting (divisive hierarchical) k-means — the second
    clustering algorithm, built entirely from the engine's own fit
    loop (Steinbach/Karypis/Kumar's "bisecting k-means", the
    algorithm behind MLlib's BisectingKMeans).

    Start with one cluster; repeatedly split the cluster with the
    largest squared WCSS via a k=2 engine fit over ONLY that
    cluster's rows, until ``k`` leaves exist (or no splittable
    cluster remains). Large-cluster bias plus local refits give the
    well-known quality/robustness trade vs flat k-means at large k —
    and at 100 TB each split scans one shrinking subset, never the
    corpus.

    Determinism: split seeds derive from (seed, split index); every
    subset is localCheckpoint-ed so lineage stays O(1) across the
    k−1 driver-loop rounds (the components.py lesson). A split
    releases its parent's and its assignment frame's blocks once the
    halves are checkpointed, so storage holds the live leaves only
    (the returned assignments read them). Returns
    ``(assignments (i, j, dist), model)`` with leaves renumbered
    1..n_leaves in split order; ``dist`` is the distance to the
    leaf's own center (same contract as ``assign``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # spread the base ONCE to full parallelism before checkpointing
    # (r14, guide §1.2/§2.2): every split subset — filters over this
    # checkpoint — inherits the layout, so the per-split k=2 fits run
    # on the internal ``_fit_on_prepared`` path instead of re-paying
    # prepare_working_set's repartition + cache + emptiness probe +
    # count on data that is already materialized (~4 jobs × k−1
    # splits). Deterministic layout ⇒ deterministic split sums, the
    # same contract prepare_working_set documents.
    sc = yh.sparkSession.sparkContext
    base = yh.select("i", "Y")
    if base.rdd.getNumPartitions() < sc.defaultParallelism:
        base = base.repartition(sc.defaultParallelism)
    base = base.localCheckpoint(eager=True)
    n_parts = base.rdd.getNumPartitions()
    head = base.select("Y").first()
    if head is None:
        raise ValueError("bisecting k-means: input DataFrame is empty")
    dim = len(head[0])

    _STATS_AGGS = (
        lambda dim: [F.count(F.lit(1)).alias("n")]
        + [F.sum(F.col("Y")[d]).alias(f"s{d}") for d in range(dim)]
        + [F.sum(F.col("Y")[d] * F.col("Y")[d]).alias(f"q{d}") for d in range(dim)]
        # splittability folded into the stats pass (r15, guide §1.2):
        # min(Y) != max(Y) over the array column (Spark's total array
        # ordering) iff the leaf holds >= 2 DISTINCT points — replaces
        # the per-pick distinct().limit(2).count() probe job. Compared
        # in Spark, not Python: Spark's NaN = NaN, so an all-duplicate
        # NaN-bearing leaf is unsplittable, as distinct() says. (Y is
        # non-null by the YH contract; a null-bearing leaf would fail
        # the k=2 fit long before this probe mattered.)
        + [(F.min("Y") != F.max("Y")).alias("can_split")]
    )

    def _leaf_from(row) -> tuple | None:
        """One leaf record ``(df_placeholder, wcss, n, mean,
        can_split)`` from a stats row: count + per-dim sums + per-dim
        sums of squares + the splittability bit. The mean is sums/n
        (the identical IEEE division Average performs); the WCSS uses
        the sum-of-squares identity Σ‖x−μ‖² = Σ_d (Σx_d² − (Σx_d)²/n),
        clamped at 0 per dimension (fp cancellation can dip
        epsilon-negative on a constant column). Mathematically equal
        to the elbow() re-scan around the mean — WCSS only ORDERS the
        split picks, and the literal-free aggregate is also a
        codegen-cache hit, unlike the per-leaf elbow whose mean
        literals recompiled every call. The caller attaches the leaf
        DataFrame (index 0)."""
        n = int(row["n"])
        if n == 0:
            return None
        mean = [float(row[f"s{d}"]) / n for d in range(dim)]
        wcss = sum(
            max(0.0, float(row[f"q{d}"]) - float(row[f"s{d}"]) ** 2 / n)
            for d in range(dim)
        )
        return (None, wcss, n, mean, bool(row["can_split"]))

    def _leaf(df: DataFrame) -> tuple | None:
        rec = _leaf_from(df.agg(*_STATS_AGGS(dim)).first())
        return None if rec is None else (df, *rec[1:])

    # leaves: splittable candidates; final: leaves PERMANENTLY out of
    # the split pool — too few rows, or a degenerate k=2 split
    # (all-duplicate points). Keeping them in a separate list (not a
    # WCSS sentinel) is what guarantees the loop terminates: a
    # degenerate leaf can never be re-picked even when it is the only
    # leaf left with >= min_rows rows.
    leaves: list[tuple] = [_leaf(base)]
    final: list[tuple] = []
    split_no = 0
    while len(leaves) + len(final) < k and leaves:
        # pick the largest-WCSS leaf that still has >= min_rows rows
        # (the leaf record carries n — no row-probe job); smaller ones
        # move to final (a leaf only ever shrinks, so one failed
        # row-count check is conclusive forever)
        still: list[tuple] = []
        picked: tuple | None = None
        for lw in sorted(leaves, key=lambda t: t[1], reverse=True):
            if picked is not None:
                still.append(lw)
            elif lw[2] >= min_rows:
                picked = lw
            else:
                final.append(lw)
        leaves = still
        if picked is None:
            break  # nothing splittable
        df = picked[0]
        if not picked[4]:
            # all-duplicate leaf (min(Y) == max(Y) in its stats row): a
            # k=2 fit cannot place two distinct centers (k-means++
            # would fail with "no candidate points left") — final,
            # never re-picked (ADVICE r6). No probe job (r15): the
            # splittability bit rides the leaf's one stats pass.
            final.append(picked)
            continue
        split_no += 1
        eng = KMeansEngine(k=2, seed=seed + split_no, max_iter=max_iter)
        res = eng._fit_on_prepared(df, n_parts)
        # split by DIRECT assignment projection — never a join back on
        # the key: the YH contract allows duplicate (i, Y) rows
        # (lineitem keys repeat per line), and a semi-join would
        # multiply or misroute them.
        # One-pass split (r15, VERDICT r14 item 1 / guide §1.2): the
        # parent+assignment is checkpointed ONCE, BOTH halves' stats
        # come from ONE groupBy-on-assignment pass over it, and the
        # half frames re-checkpoint as filters over the in-memory
        # tagged blocks. The old shape ran the parent scan +
        # assignment TWICE (one deep checkpoint per half) and a stats
        # job per half — 5 jobs, 2 deep scans; this is 4 jobs, 1 deep
        # scan, and the later Lloyd passes still run over compact
        # per-half checkpoints (a filter-over-parent half would
        # re-scan 2× rows per pass — the wrong trade at scale).
        jcol = nearest_centroid_struct("Y", res.model)["j"]
        tagged = (
            df.select("i", "Y", jcol.alias("__j")).localCheckpoint(eager=True)
        )
        stats = {
            int(r["__j"]): r
            for r in tagged.groupBy("__j").agg(*_STATS_AGGS(dim)).collect()
        }
        halves = []
        for j, _c in res.model:
            if j not in stats:
                continue  # empty half (all rows on one center)
            rec = _leaf_from(stats[j])
            if rec is None:
                continue
            part = (
                tagged.filter(F.col("__j") == j)
                .select("i", "Y")
                .localCheckpoint(eager=True)
            )
            halves.append((part, *rec[1:]))
        # the halves are eager checkpoints of their own: nothing reads
        # `tagged` any more, so its parent-sized blocks go now
        _release_checkpoint(tagged)
        if len(halves) <= 1:
            # degenerate split (duplicate points) — leaf is final and
            # permanently unsplittable (ADVICE r6: re-appending it to
            # the split pool looped forever when it was the only
            # >= min_rows leaf left)
            for part, *_rest in halves:
                _release_checkpoint(part)
            final.append(picked)
            continue
        # the halves replace the parent leaf (base or an earlier half)
        _release_checkpoint(df)
        leaves.extend(halves)
    # final model: per-leaf mean center (carried on the leaf record —
    # no extra pass); assignments by membership
    model: Model = []
    out = None
    for li, (df, _w, _n, center, _s) in enumerate(leaves + final, start=1):
        model.append((li, center))
        part = df.select(
            "i",
            F.lit(li).alias("j"),
            _dist_to(center).alias("dist"),
        )
        out = part if out is None else out.unionByName(part)
    return out, model

