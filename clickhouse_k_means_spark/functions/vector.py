"""Arrow-vectorized batch vector math for embedding-arity columns.

The engine keeps PAIRWISE scoring (one dot/cosine per row) in
codegen'd unrolled arithmetic (functions/distance.py) — that is the
right physical shape for a streaming exact re-rank. But MULTI-PLANE
projections are matrix multiplies: SRP bucketing evaluates
``n_tables × n_bits`` hyperplane dots per row (48 × 64-dim for the
default ANN config) and IVF cell assignment evaluates ``nlist``
centroid distances per row. Unrolling those into scalar expressions
was measured (round 3) at ~80 s of plan construction (py4j round
trips) plus ~40 s of codegen/JIT compile per session — and the giant
generated methods pressure the JVM code cache for every later query.

A batched ``pandas_udf`` is the architecturally honest fast path
here: one Arrow transfer per batch, one BLAS ``(batch × dim) @
(dim × planes)`` matmul, tiny constant generated code. This is the
same judgment call the multimodal surface makes — Python is allowed
exactly where the work is inherently batch-vectorizable and Spark's
expression language would fight the hardware. At 100 TB the
bucketing pass stays narrow (no shuffle) and scales with executor
Python workers; the candidate-verify joins downstream remain
JVM-side.

Determinism: hyperplanes/centroids are seeded driver-side literals
baked into the UDF closure; float64 matmul is deterministic for a
fixed BLAS, and every gate built on these paths asserts
scale-invariant facts (recall scalars, exact-cosine-verified pairs),
not raw bucket ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf


def _stack(mat: list[list[float]]) -> np.ndarray:
    return np.asarray(mat, dtype=np.float64)


def srp_buckets_batch(tables: list[list[list[float]]]):
    """Factory: pandas_udf mapping an ``array<double>`` column to the
    ``array<bigint>`` of SRP bucket ids, one per hash table.

    ``tables[t]`` is the ``n_bits`` hyperplane list for table ``t``.
    All ``n_tables × n_bits`` dots run as ONE matmul per Arrow batch;
    sign bits pack little-endian per table (bit b set iff
    ``v · plane_b >= 0`` — identical convention to
    ``similarity.srp_bucket``).
    """
    n_bits = len(tables[0])
    w = _stack([p for planes in tables for p in planes])  # (T*B, dim)
    n_tables = len(tables)
    weights = np.ascontiguousarray(w.T)  # (dim, T*B)
    powers = (1 << np.arange(n_bits, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def _buckets(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)  # (n, dim)
        signs = (m @ weights) >= 0.0  # (n, T*B)
        per_t = signs.reshape(len(m), n_tables, n_bits)
        ids = (per_t * powers).sum(axis=2)  # (n, T)
        return pd.Series(list(ids))

    return _buckets


def nearest_cells_batch(centers: list[list[float]], nprobe: int = 1):
    """Factory: pandas_udf mapping ``array<double>`` to the
    ``array<int>`` of the ``nprobe`` nearest centroid indices
    (squared-L2, ties broken by lower index via stable argsort).

    Used for both IVF corpus cell assignment (``nprobe=1``) and query
    multi-probe. One matmul per batch: ``|x-c|² = |x|² - 2x·c + |c|²``
    and the |x|² term is rank-invariant, so only ``-2x·c + |c|²`` is
    scored.
    """
    c = _stack(centers)  # (k, dim)
    ct = np.ascontiguousarray(c.T)
    c_sq = (c * c).sum(axis=1)  # (k,)

    @pandas_udf("array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        scores = -2.0 * (m @ ct) + c_sq  # (n, k), rank == L2 rank
        if nprobe == 1:
            # argmin (first occurrence == lowest index — the same tie
            # rule as the stable argsort) is O(n·k) vs the sort's
            # O(n·k log k); at k=414 candidates × 600k points this was
            # over half the k-means|| init wall time (r7 profile)
            order = scores.argmin(axis=1)[:, None]
        else:
            order = np.argsort(scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return _cells


def min_sq_dist_batch(centers: list[list[float]]):
    """Factory: pandas_udf mapping ``array<double>`` to the MINIMUM
    squared L2 distance to any of ``centers`` (double).

    The k-means|| init's per-round distance refresh: each round folds
    the new candidate batch into the per-point running min-D² with ONE
    narrow Arrow pass — replacing a broadcast-join + groupBy-on-array
    that shuffled the whole point set per round. Values (not just
    ranks) matter here (the Φ cost and sampling thresholds), so the
    full expansion ``|x|² - 2x·c + |c|²`` is computed and clamped at 0
    (fp cancellation can dip epsilon-negative). Per-row results are
    independent of Arrow batch composition — partition layout cannot
    change the outcome.
    """
    c = _stack(centers)  # (k, dim)
    ct = np.ascontiguousarray(c.T)
    c_sq = (c * c).sum(axis=1)  # (k,)

    @pandas_udf("double")
    def _min_d2(v: pd.Series) -> pd.Series:
        m = np.array(v.tolist(), dtype=np.float64)
        d2 = (m * m).sum(axis=1)[:, None] - 2.0 * (m @ ct) + c_sq
        return pd.Series(np.maximum(d2.min(axis=1), 0.0))

    return _min_d2


def lloyd_partials_batch(centers: list[list[float]]):
    """Factory for the FUSED Lloyd step (VERDICT r6 item 4): a
    ``mapInPandas`` function emitting per-partition ``(cell, cnt,
    s0..s{dim-1})`` partials — assignment (the same ``-2x·c + |c|²``
    rank trick and first-min tie rule as ``nearest_cells_batch``) and
    map-side sum/count aggregation in ONE narrow pass.

    Physical shape: one stage per Lloyd step instead of two
    (ArrowEval → hash-agg → exchange → final agg). The output is at
    most ``k`` rows per partition, so either a driver-side combine
    (small partition counts — the local path) or a k×P-row shuffle
    (cluster path) finishes the means; both are decided by the
    caller. Returns ``(fn, schema)``.
    """
    c = _stack(centers)  # (k, dim)
    ct = np.ascontiguousarray(c.T)
    c_sq = (c * c).sum(axis=1)
    k, dim = c.shape
    schema = "cell int, cnt bigint, " + ", ".join(
        f"s{d} double" for d in range(dim)
    )

    def _partials(batches):
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            m = np.array(pdf["Y"].tolist(), dtype=np.float64)  # (n, dim)
            idx = (-2.0 * (m @ ct) + c_sq).argmin(axis=1)
            cnts += np.bincount(idx, minlength=k)
            for d in range(dim):
                sums[:, d] += np.bincount(idx, weights=m[:, d], minlength=k)
        nz = np.flatnonzero(cnts)
        if len(nz):
            out = {"cell": nz.astype(np.int32), "cnt": cnts[nz]}
            for d in range(dim):
                out[f"s{d}"] = sums[nz, d]
            yield pd.DataFrame(out)

    return _partials, schema


def numpy_kmeans_weighted(
    x: np.ndarray,
    w: list[float] | np.ndarray,
    k: int,
    seed: int = 42,
    n_iter: int = 20,
) -> np.ndarray:
    """Weighted k-means (seeded weighted-++ init + weighted Lloyd) on a
    driver-side candidate set — the k-means|| recluster step (Bahmani
    et al. §3.3: the ~2k·rounds oversampled candidates, weighted by
    attraction-basin size, reduced to the final k)."""
    rng = np.random.RandomState(seed)
    n = len(x)
    w = np.asarray(w, dtype=np.float64)
    if w.sum() <= 0:
        w = np.ones(n, dtype=np.float64)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.choice(n, p=w / w.sum())]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        wd = w * d2
        probs = wd / wd.sum() if wd.sum() > 0 else w / w.sum()
        centers[j] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    for _ in range(n_iter):
        dists = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = dists.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any() and w[mask].sum() > 0:
                centers[j] = np.average(x[mask], axis=0, weights=w[mask])
    return centers


def quantizer_sample_n(k: int) -> int:
    """Quantizer training-sample size for a ``k``-cell fit:
    ``max(2048, 8k)``. The fixed 2048 was itself a fixture constant
    (the r7 lesson): past 256 cells it leaves < 8 points per centroid
    and the fit degenerates to near-random cells — exactly where
    ``_auto_n_cells`` starts deriving large counts. 8 points/centroid
    is the FAISS-documented floor (faiss ClusteringParameters
    min_points_per_centroid warns below ~39, errors below 1; 8 keeps
    the driver fit milliseconds at the 1024-cell clamp: 8192 rows).
    Every committed gate uses k <= 64 so their sample stays 2048 —
    the rule only engages where the old constant was wrong."""
    return max(2048, 8 * int(k))


def numpy_kmeans(
    x: np.ndarray, k: int, seed: int = 42, n_iter: int = 20
) -> np.ndarray:
    """Tiny deterministic k-means (seeded ++ init + Lloyd) on a
    driver-side sample — trains the IVF coarse quantizer the way FAISS
    does: on a bounded sample, never on the full corpus.
    """
    rng = np.random.RandomState(seed)
    n = len(x)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[rng.randint(n)]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers[j] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((x - centers[j]) ** 2).sum(axis=1))
    for _ in range(n_iter):
        dists = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = dists.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                centers[j] = x[mask].mean(axis=0)
    return centers


def normalize_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization with zero-vector guard (zero rows stay
    zero instead of NaN). On unit vectors squared-L2 rank equals cosine
    rank (|a-b|² = 2 - 2·cosθ), which is what lets an L2-trained PQ
    index serve a cosine query."""
    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    return m / np.where(norms == 0.0, 1.0, norms)


def pq_encode_batch(codebooks: list[np.ndarray]):
    """Factory: pandas_udf mapping ``array<double>`` vectors to their
    product-quantization code word (``array<int>``, one code per
    subspace).

    ``codebooks[s]`` is the ``(n_codes, dsub)`` centroid matrix for
    subspace ``s`` (trained on NORMALIZED sample vectors). Each Arrow
    batch is normalized once, then each subspace runs one
    ``(batch × dsub) @ (dsub × n_codes)`` matmul and an argmin — the
    same |x|²-invariant trick as ``nearest_cells_batch``. The output
    is ``m`` small ints per row: the 8-64-byte corpus representation
    that makes PQ's memory story at 100 TB (vs dim×8 bytes raw).
    Ties break to the lowest code via stable argsort semantics of
    argmin.
    """
    m_sub = len(codebooks)
    dsub = codebooks[0].shape[1]
    cts = [np.ascontiguousarray(c.T) for c in codebooks]  # (dsub, n_codes)
    c_sqs = [(c * c).sum(axis=1) for c in codebooks]  # (n_codes,)

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        x = normalize_rows(np.array(v.tolist(), dtype=np.float64))
        codes = np.empty((len(x), m_sub), dtype=np.int32)
        for s in range(m_sub):
            xs = x[:, s * dsub : (s + 1) * dsub]
            scores = -2.0 * (xs @ cts[s]) + c_sqs[s]  # L2 rank per code
            codes[:, s] = scores.argmin(axis=1)
        return pd.Series(list(codes))

    return _encode


def ivfpq_encode_batch(centroids: np.ndarray, codebooks: list[np.ndarray]):
    """Factory: pandas_udf mapping ``array<double>`` vectors to their
    IVFPQ representation ``struct<cell int, codes array<int>>`` —
    nearest coarse cell + product-quantized RESIDUAL code word
    (Jégou et al. TPAMI 2011 §IV: quantize ``x - centroid[cell]``, not
    ``x``; residual energy is a fraction of vector energy, so the same
    code budget buys far finer resolution).

    ``centroids`` is the ``(nlist, dim)`` coarse quantizer and
    ``codebooks[s]`` the ``(n_codes, dsub)`` residual codebook for
    subspace ``s`` — both trained on NORMALIZED vectors. One Arrow
    batch = one normalize + one cell matmul/argmin + m residual
    matmuls: the corpus is encoded in a single pass, never shuffled.
    """
    m_sub = len(codebooks)
    dsub = codebooks[0].shape[1]
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    cent_t = np.ascontiguousarray(cent.T)
    cent_sq = (cent * cent).sum(axis=1)
    cts = [np.ascontiguousarray(c.T) for c in codebooks]
    c_sqs = [(c * c).sum(axis=1) for c in codebooks]

    @pandas_udf("cell int, codes array<int>")
    def _encode(v: pd.Series) -> pd.DataFrame:
        x = normalize_rows(np.array(v.tolist(), dtype=np.float64))
        cells = (-2.0 * (x @ cent_t) + cent_sq).argmin(axis=1)
        resid = x - cent[cells]
        codes = np.empty((len(x), m_sub), dtype=np.int32)
        for s in range(m_sub):
            rs = resid[:, s * dsub : (s + 1) * dsub]
            codes[:, s] = (-2.0 * (rs @ cts[s]) + c_sqs[s]).argmin(axis=1)
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "codes": list(codes)}
        )

    return _encode


def ivfpq_adc_lut(
    centroids: np.ndarray,
    codebooks: list[np.ndarray],
    q_mat: np.ndarray,
    probe_mask: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """IVFPQ asymmetric-distance lookup table for the ``Q`` queries in
    ``q_mat`` (normalized rows): ``(lut, cell_to_idx)`` for
    ``ivfpq_adc_scores``.

    The table folds the coarse centroid INTO the residual entry —
    ``lut[q, p, s, c] = |q_s - centroid[probed[p]]_s - codebook_s[c]|²``
    — and is built ONLY over the union of probed cells
    (``probe_mask.any(axis=0)``); ``cell_to_idx`` maps a cell id to its
    compact probed-cell index, -1 outside the union (ADVICE r11: the
    full Q x nlist x m x n_codes table is multi-GB at realistic
    geometry nlist=1024, m=16, n_codes=256, Q=100; the probed union is
    bounded by Q*nprobe regardless of nlist). Each per-subspace slab is
    computed via the expanded form ``|t|² - 2·t·c + |c|²`` with a
    (Q, P, n_codes) matmul — no (Q, P, n_codes, dsub) 4-D transient.
    ``probe_mask[q, cell] = False`` poisons that (query, cell) pair to
    +inf."""
    m_sub = len(codebooks)
    dsub = codebooks[0].shape[1]
    cent = np.asarray(centroids, dtype=np.float64)
    nlist = cent.shape[0]
    if probe_mask is not None:
        probed = np.flatnonzero(probe_mask.any(axis=0))
    else:
        probed = np.arange(nlist)
    cell_to_idx = np.full(nlist, -1, dtype=np.int64)
    cell_to_idx[probed] = np.arange(len(probed))
    luts = []
    for s in range(m_sub):
        q_s = q_mat[:, s * dsub : (s + 1) * dsub]  # (Q, dsub)
        c_s = cent[probed][:, s * dsub : (s + 1) * dsub]  # (P, dsub)
        cb = codebooks[s]  # (n_codes, dsub)
        t = q_s[:, None, :] - c_s[None, :, :]  # (Q, P, dsub)
        tsq = (t * t).sum(axis=2)  # (Q, P)
        cbsq = (cb * cb).sum(axis=1)  # (n_codes,)
        # (Q, P, n_codes) straight from the matmul — no 4-D transient
        luts.append(
            tsq[:, :, None] - 2.0 * (t @ cb.T) + cbsq[None, None, :]
        )
    lut = np.stack(luts, axis=2)  # (Q, P, m, n_codes)
    if probe_mask is not None:
        lut[~probe_mask[:, probed], :, :] = np.inf
    return lut, cell_to_idx


def ivfpq_adc_scores(
    lut: np.ndarray, cell_to_idx: np.ndarray, cells: np.ndarray, codes: np.ndarray
) -> np.ndarray:
    """``(Q, n)`` asymmetric squared distances of ``n`` IVFPQ rows
    (``cells`` ``(n,)``, ``codes`` ``(n, m)`` ints) through an
    ``ivfpq_adc_lut`` table: m lookups + adds per (query, row), summed
    in subspace order. A row in a cell outside the probed union, or in
    a cell its query does not probe, scores +inf, and the index
    search's Arrow pass drops those pairs (``ann_index._adc_shortlist``),
    so per-query nprobe selectivity needs no join."""
    cl = cell_to_idx[cells]  # (n,)
    acc = np.zeros((lut.shape[0], len(cl)), dtype=np.float64)
    ok = cl >= 0
    for s in range(lut.shape[2]):
        acc[:, ok] += lut[:, cl[ok], s, codes[ok, s]]
    acc[:, ~ok] = np.inf
    return acc


def pq_adc_lut(codebooks: list[np.ndarray], q_mat: np.ndarray) -> np.ndarray:
    """PQ asymmetric-distance lookup table ``lut[q, s, c] = |q_s -
    codebook_s[c]|²`` for the ``Q`` queries in ``q_mat`` (normalized,
    row per query): ``(Q, m, n_codes)`` doubles, built once driver-side.
    Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — ADC variant (§III-B)."""
    dsub = codebooks[0].shape[1]
    return np.stack(
        [
            ((q_mat[:, s * dsub : (s + 1) * dsub][:, None, :]
              - codebooks[s][None, :, :]) ** 2).sum(axis=2)
            for s in range(len(codebooks))
        ],
        axis=1,
    )


def pq_adc_scores(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """``(Q, n)`` asymmetric squared distances of ``n`` PQ code rows
    (``codes`` ``(n, m)`` ints) through a ``pq_adc_lut`` table: m table
    lookups + adds per (query, row), summed in subspace order, never
    touching the original vector (the index search's Arrow pass,
    ``ann_index._adc_shortlist``)."""
    acc = np.zeros((lut.shape[0], len(codes)), dtype=np.float64)  # (Q, n)
    for s in range(lut.shape[1]):
        acc += lut[:, s, codes[:, s]]
    return acc
