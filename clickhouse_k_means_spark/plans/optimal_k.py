"""Model-selection diagnostics — elbow + simplified silhouette.

Reference (OptimalK.sql):
- Elbow (lines 3-8): sum over all points of the distance to the nearest
  centroid of the final model. NOTE: plain L2 distance, not squared —
  total within-cluster *distance*, not WCSS (quirk Q6). ``elbow``
  reproduces that exactly; ``squared=True`` gives standard inertia.
- Silhouette (lines 10-21): a GLOBAL simplified variant (quirk Q7):
  ai = mean distance over ALL same-cluster pairs, bi = mean over ALL
  cross-cluster pairs, si = (bi-ai)/max(ai,bi) — one number for the
  whole clustering, not the per-point Rousseeuw silhouette. O(n²) via
  self cross join with ``a.i != b.i``.

Scale notes: elbow is one codegen'd scan (model folded into literals).
The exact silhouette is quadratic by definition — fine at fixture
scale; ``silhouette_sampled`` bounds the pair count by hash-sampling
rows before the cross join (deterministic, seedable), the honest
scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_k_means_spark.functions.centroids import nearest_centroid_struct
from clickhouse_k_means_spark.functions.distance import l2_distance, l2_fixed

Model = list[tuple[int, list[float]]]


def elbow(yh: DataFrame, model: Model, squared: bool = False) -> float | None:
    """Σ min-distance to the model (OptimalK.sql:3-8; Q6 exact parity).
    ``None`` on an empty input (SQL ``sum`` over zero rows), on both
    paths.

    Large models take an Arrow partials path (r14, guide §4): past the
    same ``k·dim`` threshold the Lloyd assignment uses, the unrolled
    64-struct ``array_min`` expression blows codegen and the whole scan
    runs INTERPRETED — measured 58 s for k=64/dim=3 over 600k rows vs
    ~1 s for the batched NumPy fold. The batch computes the SAME
    per-element fold ((x₀−c₀)² + (x₁−c₁)² + …, then min over centers,
    then sqrt when unsquared), so any difference vs the JVM expression
    is confined to summation grouping of the final Σ — the same
    last-bits freedom the JVM's own partial-combine order already has.
    Every oracle-gated elbow entry (k=4, dim=3) sits far below the
    threshold and keeps the bit-exact JVM expression."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine

    k, dim = len(model), len(model[0][1])
    # >= : the SAME comparison the Lloyd/assign paths use for
    # _ARROW_ASSIGN_CELLS (ADVICE r14 — the gates diverged at exactly
    # k·dim == threshold; no registered elbow consumer sits on the
    # boundary: fit_best/doc_clusters shapes are k=4·dim≤8 = ≤32,
    # tests/test_r15_optimizations.py pins the unreachability)
    if k * dim >= KMeansEngine._ARROW_ASSIGN_CELLS:
        return _elbow_batch(yh, model, squared)
    s = nearest_centroid_struct("Y", model)
    d = s["dist"] * s["dist"] if squared else s["dist"]
    return yh.agg(F.sum(d).alias("elbow")).collect()[0][0]


def _elbow_batch(yh: DataFrame, model: Model, squared: bool) -> float | None:
    """Arrow partials for the large-k elbow: per-partition Σ of the
    min distance (same (x−c)² left fold per element as the unrolled
    expression), combined on the driver in partition order."""
    import numpy as np
    import pandas as pd

    c = np.asarray([cs for _, cs in sorted(model)], dtype=np.float64)

    def _partials(batches):
        total = 0.0
        n = 0
        for pdf in batches:
            m = np.array(pdf["Y"].tolist(), dtype=np.float64)  # (n, dim)
            # (n, k, dim) diff → square → sequential per-element sum →
            # min over centers: the unrolled expression's fold per pair
            d2 = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            best = d2.min(axis=1)
            total += float(best.sum() if squared else np.sqrt(best).sum())
            n += len(pdf)
        yield pd.DataFrame({"s": [total], "n": [n]})

    rows = yh.select("Y").mapInPandas(_partials, schema="s double, n long").collect()
    if sum(int(r["n"]) for r in rows) == 0:
        # SQL sum over zero rows is NULL — the JVM expression path
        # returns None on an empty input; match it (ADVICE r14: this
        # path returned 0.0, a silent divergence across the gate)
        return None
    return float(sum(r["s"] for r in rows))


def _pairs(yh: DataFrame, model: Model) -> DataFrame:
    # assign each point ONCE before the cross join (n assignment
    # evaluations, not n² — the join then only computes the pair
    # distance per row)
    pts = yh.select(
        "i", "Y", nearest_centroid_struct("Y", model)["j"].alias("j")
    )
    a = pts.select(
        F.col("i").alias("ia"), F.col("Y").alias("Ya"), F.col("j").alias("ja")
    )
    b = pts.select(
        F.col("i").alias("ib"), F.col("Y").alias("Yb"), F.col("j").alias("jb")
    )
    dim = len(model[0][1])  # unrolled distance keeps the n² stage codegen'd
    return (
        a.crossJoin(b)
        .filter(F.col("ia") != F.col("ib"))
        .select("ja", "jb", l2_fixed("Ya", "Yb", dim).alias("distance"))
    )


def silhouette_global(yh: DataFrame, model: Model) -> dict[str, float]:
    """Exact reference formula (OptimalK.sql:10-21): returns ai, bi, si."""
    row = (
        _pairs(yh, model)
        .agg(
            F.avg(F.when(F.col("ja") == F.col("jb"), F.col("distance"))).alias("ai"),
            F.avg(F.when(F.col("ja") != F.col("jb"), F.col("distance"))).alias("bi"),
        )
        .collect()[0]
    )
    ai, bi = float(row["ai"]), float(row["bi"])
    si = (bi - ai) / (bi if bi > ai else ai)
    return {"ai": ai, "bi": bi, "si": si}


def silhouette_hash_sample(
    yh: DataFrame, max_rows: int = 2000, seed: int = 42, n: int | None = None
) -> DataFrame:
    """Deterministic key-hash sample of ≈ max_rows rows: keep rows where
    ``hash64(seed # i) % m == 0`` with ``m = ceil(n / max_rows)``.

    Unlike ``DataFrame.sample`` (whose row stream depends on partition
    layout), the md5-derived hash is a pure function of the KEY — the
    same rows are picked on any cluster/layout, and the identical
    filter is expressible in the DuckDB oracle. Sampling error for the
    silhouette means: pair averages over a u = 1/m uniform row sample
    estimate the population means with relative standard error
    ≈ 1/sqrt(#sampled pairs) (≤ ~0.1% at max_rows = 2000); quirk Q7's
    single global (ai, bi) is an average over ~n²/2 i.i.d.-ish pair
    terms, so the hash sample is unbiased for both numerators.
    """
    from clickhouse_k_means_spark.functions.hashing import hash64

    n = yh.count() if n is None else n
    if n <= max_rows:
        return yh
    m = -(-n // max_rows)  # ceil
    return yh.filter(
        F.pmod(hash64(F.col("i").cast("string"), salt=seed), F.lit(m)) == 0
    )


def silhouette_sampled(
    yh: DataFrame, model: Model, max_rows: int = 2000, seed: int = 42
) -> dict[str, float]:
    """Same formula over a deterministic hash-sample of ≈ max_rows rows —
    the O(n²) pair count becomes O(max_rows²) regardless of input size."""
    n = yh.count()
    if n <= max_rows:
        return silhouette_global(yh, model)
    samp = silhouette_hash_sample(yh, max_rows=max_rows, seed=seed, n=n)
    # materialize + spread the sample: the cross join references it on
    # BOTH sides, which would otherwise rescan (and re-filter) the full
    # input twice at the source's (possibly single-file) parallelism
    sc = yh.sparkSession.sparkContext
    samp = samp.repartition(sc.defaultParallelism).cache()
    try:
        return silhouette_global(samp, model)
    finally:
        samp.unpersist()


def optimal_k_scan(
    yh: DataFrame,
    ks: range | list[int],
    seed: int = 42,
    use_mllib: bool = True,
    silhouette_rows: int = 1000,
) -> list[dict]:
    """Fit per k and report elbow + sampled silhouette — the OptimalK.sql
    workflow as one call. MLlib path by default (fast); reference path
    with use_mllib=False."""
    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine, mllib_kmeans

    out = []
    yh = yh.cache()
    for k in ks:
        if use_mllib:
            _, model = mllib_kmeans(yh, k=k, seed=seed)
        else:
            model = KMeansEngine(k=k, seed=seed).fit(yh).model
        row = {"k": k, "elbow": elbow(yh, model)}
        row.update(silhouette_sampled(yh, model, max_rows=silhouette_rows, seed=seed))
        out.append(row)
    yh.unpersist()
    return out
