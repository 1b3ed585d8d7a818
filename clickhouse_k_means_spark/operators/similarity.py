"""Similarity search over an embedding column (``array<double>``).

Query-batch top-k and all-points kNN, on the same distance core
(functions/distance.py) as the k-means engine — the reference's
L2Distance workhorse generalized to cosine:

- ``brute_force_topk``: every query × every corpus row, then per-query
  top-k. The queries side is broadcast (a handful to thousands of
  rows); the corpus side streams — so at 100 TB this is ONE scan of
  the corpus with no shuffle of the big side, and per-partition heaps
  (WindowGroupLimit / TakeOrdered) keep only k rows per query per
  partition before the final merge. The exact baseline.
- ``srp_bucketed_topk``: the scale path — Signed Random Projection
  LSH. Each vector gets a ``n_bits``-bit bucket from the signs of dot
  products with seeded fixed hyperplanes (driver-generated literals,
  so the bucketing is deterministic and needs no stored model).
  Queries probe their own bucket (plus optional multi-probe neighbor
  buckets at Hamming distance 1); candidates shrink ~2^n_bits-fold
  before exact re-ranking.
- ``ivf_topk`` / ``pq_topk``: the persistent index's fit, encode and
  search verbs (``ann_index._fit_rows``, ``_encode``, ``_search``) run
  per call without the commit, so they return what ``ivf_index`` +
  ``ivf_query`` (``pq_index`` + ``pq_query``) return and raise the
  same named vector errors.
- ``knn_join`` / ``knn_join_partitioned``: every point's top-k from
  SRP band collisions (within IVF cells for the partitioned form,
  whose coarse quantizer is the IVF index fit), one shared candidate,
  exact-cosine and rank tail (``_knn_from_bands``).

Physical split (round 3): multi-plane projections (SRP bucketing, IVF
cell assignment) are matrix multiplies and run as Arrow-batched numpy
matmuls (functions/vector.py); pairwise exact re-ranking stays in
codegen'd unrolled arithmetic (functions/distance.py). See
vector.py's module docstring for the measured rationale.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clickhouse_k_means_spark.functions.distance import (
    _HOF_DIM_CUTOFF,
    cosine_fixed,
    cosine_similarity,
    dot,
    dot_fixed,
    l2_distance,
    l2_fixed,
)
from clickhouse_k_means_spark.functions.vector import (
    nearest_cells_batch,
    srp_buckets_batch,
)
from clickhouse_k_means_spark.operators.ann_index import (
    _checked_vec,
    _encode,
    _fit_rows,
    _search,
)
from clickhouse_k_means_spark.operators.dedup import _commit_history
from clickhouse_k_means_spark.operators.topk import ranked_top_k_by_group
from clickhouse_k_means_spark.sources.dataset import local_df


def _sim_col(metric: str, a: str, b: str, dim: int | None = None) -> tuple[Column, bool]:
    """(similarity/distance column, descending?) for a metric name.

    With a known ``dim`` the expression unrolls to codegen-friendly
    arithmetic (HOF folds run interpreted — see functions/distance.py).
    """
    if metric == "cosine":
        return (cosine_fixed(a, b, dim) if dim else cosine_similarity(a, b)), True
    if metric == "dot":
        return (dot_fixed(a, b, dim) if dim else dot(a, b)), True
    if metric == "l2":
        return (l2_fixed(a, b, dim) if dim else l2_distance(a, b)), False
    raise ValueError(f"unknown metric {metric!r} (want cosine|dot|l2)")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    query_key: str = "q",
    corpus_key: str = "n",
    vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query: (q, n, score, rank).

    Ranking order is (score, corpus_key) — fully deterministic.
    ``dim`` (inferred from the first query row when omitted) unrolls
    the distance into codegen'd arithmetic.
    """
    if dim is None:
        head = queries.select(vec).first()
        dim = len(head[0]) if head else None
    q = queries.select(F.col(query_key).alias("q"), F.col(vec).alias("qv"))
    c = corpus.select(F.col(corpus_key).alias("n"), F.col(vec).alias("cv"))
    score, desc = _sim_col(metric, "qv", "cv", dim)
    scored = c.crossJoin(F.broadcast(q)).select("q", "n", score.alias("score"))
    order = [F.col("score").desc() if desc else F.col("score").asc(), F.col("n").asc()]
    return ranked_top_k_by_group(scored, k, "q", order)


def srp_hyperplanes(dim: int, n_bits: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic seeded hyperplanes for sign-random-projection."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def srp_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Packed sign-bit bucket id (bigint) of a vector under ``planes``."""
    v = F.col(vec) if isinstance(vec, str) else vec
    dim = len(planes[0])
    bits = [
        F.when(dot_fixed(v, p, dim) >= 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for b, p in enumerate(planes)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out


def embed_neardup_bucketed(
    df: DataFrame,
    threshold: float = 0.8,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ``(a, b, sim)`` with
    ``a < b`` and ``sim >= threshold`` — the scale path (VERDICT r1
    item 4): candidate pairs come from a multi-table SRP bucket
    self-join (same (table, bucket) only — never the O(n²) cross
    join), then every candidate is EXACT-cosine verified, so precision
    is 1.0 by construction and only recall is approximate (per-table
    collision p = (1-θ/π)^n_bits compounds over tables as 1-(1-p)^L;
    at sim 0.9+, 8×8 gives >0.9 recall — tests/test_extended_ops.py).

    At 100 TB: one narrow bucketing pass, one shuffle keyed by
    (table, bucket), and the verify join touches candidate pairs only.
    The brute-force cross-join form stays as the fixture-scale oracle.
    """
    head = df.select(vec).first()
    if head is None:
        return local_df(df.sparkSession,
            [], "a bigint, b bigint, sim double"
        )
    dim = len(head[0])
    banded = _srp_banded(df, key, vec, dim, n_bits, n_tables, seed)
    va = df.select(F.col(key).alias("a"), F.col(vec).alias("ea"))
    vb = df.select(F.col(key).alias("b"), F.col(vec).alias("eb"))
    return _verified_ordered_pairs(banded, va, vb, dim, threshold)


def _srp_banded(
    df: DataFrame, key: str, vec: str, dim: int,
    n_bits: int, n_tables: int, seed: int,
) -> DataFrame:
    """``(k, t, bucket)`` SRP band rows for every input vector — the
    bucketing pass shared by the batch and incremental embed-dedup
    forms. All n_tables × n_bits hyperplane dots run in one
    Arrow-batched matmul (functions/vector.py) — the
    unrolled-expression form cost ~80 s of plan build + ~40 s of
    codegen at this plane count."""
    tables = [
        srp_hyperplanes(dim, n_bits=n_bits, seed=seed + 1000 * t)
        for t in range(n_tables)
    ]
    buckets = srp_buckets_batch(tables)
    return (
        df.select(F.col(key).alias("k"), buckets(F.col(vec)).alias("bks"))
        .select("k", F.posexplode("bks").alias("t", "bucket"))
    )


def _cosine_scored(
    cand: DataFrame, va: DataFrame, vb: DataFrame, dim: int
) -> DataFrame:
    """``(a, b, sim)`` exact-cosine rows for candidate pairs — the
    verify scoring shared by the pair operators (r14, guide §1.2:
    don't recompute per pair what is constant per vector).

    At ``dim >= _HOF_DIM_CUTOFF`` the per-VECTOR norms are computed
    once on the corpus-sized ``va``/``vb`` frames and the per-PAIR
    work drops to a single dot product: ``sqrt(a·a)`` per vector is
    the same IEEE op on the same values as ``sqrt(a·a)`` per pair, so
    sims are bit-identical to the single-expression form (verified
    r14 on the fixture: 0 differing unrounded rows over knn_join's
    2.5M-pair verify; 9.6 s → 2.7 s at dim 64). Below the cutoff the
    single unrolled expression codegens and is kept unchanged."""
    if dim >= _HOF_DIM_CUTOFF:
        van = va.withColumn("na", F.sqrt(dot_fixed("ea", "ea", dim)))
        vbn = vb.withColumn("nb", F.sqrt(dot_fixed("eb", "eb", dim)))
        sim = F.round(
            dot_fixed("ea", "eb", dim) / (F.col("na") * F.col("nb")), 4
        )
        return (
            cand.join(van, "a").join(vbn, "b")
            .select("a", "b", sim.alias("sim"))
        )
    sim = F.round(cosine_fixed("ea", "eb", dim), 4)
    return cand.join(va, "a").join(vb, "b").select("a", "b", sim.alias("sim"))


def _verified_ordered_pairs(
    banded: DataFrame, va: DataFrame, vb: DataFrame,
    dim: int, threshold: float,
) -> DataFrame:
    """Bucket-collision candidates with ``a < b``, exact-cosine
    verified to ``(a, b, sim)`` rows at ``sim >= threshold`` — the
    candidate/verify core shared by the batch and incremental forms.

    Eager checkpoint BETWEEN scoring and thresholding: without the
    barrier Catalyst pushes ``sim >= threshold`` through the project
    into the verify join's condition, cloning the ~3·dim-term
    unrolled cosine into the join's generated method — at dim=64
    that blows the JVM's 64 KB method limit, codegen fails
    (Janino "Code grows beyond 64 KB") and the WHOLE stage runs
    interpreted (measured 4-9× slower at sf0.1, r5). The scored
    relation is candidate-pair-sized (≪ corpus — that is the LSH
    invariant), so materializing it is cheap at any scale."""
    # NOT spread like the kNN-graph operators (r14 negative result,
    # recorded): the near-dup pair set here is threshold-bounded tiny
    # (72k pairs on the fixture), and an up-front repartition of the
    # band table measured a flat +0.17 s per run against a 0.35 s
    # baseline while the knn_join shape (2.5M pairs) won 2-3× from
    # it — the spread pays off only when the pair explosion, not the
    # exchange, dominates.
    left = banded.select(F.col("k").alias("a"), "t", "bucket")
    right = banded.select(F.col("k").alias("b"), "t", "bucket")
    cand = (
        left.join(right, ["t", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    scored = _cosine_scored(cand, va, vb, dim).localCheckpoint(eager=True)
    return scored.filter(F.col("sim") >= threshold)


def _fitted_topk(
    queries: DataFrame, corpus: DataFrame, k: int, nprobe, rerank, seed: int,
    query_key: str, corpus_key: str, vec: str, fn: str, nlist=None,
    m_sub=None, n_codes=None,
) -> DataFrame:
    """The persistent index's verbs without the commit: fit a geometry
    on the corpus sample (``ann_index._fit_rows``), encode every corpus
    row through it (``_encode``, with the ``_checked_vec`` vector check
    keyed by ``corpus_key``) and ``_search`` the encoded rows. ``q`` and
    ``n`` keep the caller's key types."""
    cents, books, dim = _fit_rows(corpus, corpus_key, vec, nlist, m_sub,
                                  n_codes, seed, fn)
    scan = _encode(corpus, F.col(corpus_key).alias("n"),
                   _checked_vec(vec, corpus_key, dim, fn), cents, books)
    return _search(queries, scan, cents, books, k, nprobe, rerank, query_key,
                   vec, fn)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 2,
    seed: int = 42,
    query_key: str = "q",
    corpus_key: str = "n",
    vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer + cell probe,
    ``(q, n, score, rank)``; the same rows ``ivf_index`` + ``ivf_query``
    return, fitted per call and never committed.

    The quantizer is a seeded NumPy k-means on the bounded hash-ordered
    corpus sample (driver-side; the full corpus never leaves the
    executors); corpus rows are bucketed by their nearest of ``nlist``
    centroids in one Arrow-batched pass, each query probes its
    ``nprobe`` nearest cells and only those rows get the exact-cosine
    rerank. Candidate work drops ~nlist/nprobe-fold vs brute force. A
    NULL, wrong-size or non-finite vector fails naming its key (a
    ``ValueError`` when the sample or the query batch holds it, the
    encode pass's error otherwise); so does a zero-norm query.
    """
    return _fitted_topk(queries, corpus, k, nprobe, None, seed, query_key,
                        corpus_key, vec, "ivf_topk", nlist=nlist)


def srp_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 1,
    seed: int = 42,
    multi_probe: bool = True,
    query_key: str = "q",
    corpus_key: str = "n",
    vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors via SRP-LSH buckets.

    Corpus rows are bucketed once per hash table (narrow pass); each
    query probes its bucket in every table and, with ``multi_probe``,
    all buckets at Hamming distance 1 (n_bits+1 probes per table — the
    standard recall boost). ``n_tables`` independent hyperplane sets
    union their candidates (classic multi-table LSH: per-table miss
    probability compounds as (1-p)^L, the recall knob that single-table
    SRP lacks on low-similarity neighbor sets). The join shuffles on
    (table, bucket); candidates get exact cosine re-ranking after
    dedup. Recall is approximate by design; callers needing exact
    results use ``brute_force_topk``.
    """
    head = queries.select(vec).first()
    dim = len(head[0])
    tables = [
        srp_hyperplanes(dim, n_bits=n_bits, seed=seed + 1000 * t)
        for t in range(n_tables)
    ]
    # one Arrow-batched matmul computes every table's bucket id
    # (functions/vector.py — the unrolled-Column form cost ~80 s plan
    # build + ~40 s codegen at 48 planes); the Hamming-1 multi-probe
    # expansion stays JVM-side (cheap bit arithmetic on the ids)
    buckets = srp_buckets_batch(tables)
    c = (
        corpus.select(
            F.col(corpus_key).alias("n"),
            F.col(vec).alias("cv"),
            buckets(F.col(vec)).alias("bks"),
        )
        .select("n", "cv", F.posexplode("bks").alias("t", "bucket"))
    )
    q0 = (
        queries.select(
            F.col(query_key).alias("q"),
            F.col(vec).alias("qv"),
            buckets(F.col(vec)).alias("bks"),
        )
        .select("q", "qv", F.posexplode("bks").alias("t", "b0"))
    )
    b0 = F.col("b0")
    per_table = [b0]
    if multi_probe:
        per_table += [
            b0.bitwiseXOR(F.lit(1 << b).cast("bigint")) for b in range(n_bits)
        ]
    q = q0.select(
        "q", "qv", "t", F.explode(F.array(*per_table)).alias("bucket")
    )
    cand = c.join(F.broadcast(q), ["t", "bucket"]).select(
        "q", "n", cosine_fixed("qv", "cv", dim).alias("score")
    )
    order = [F.col("score").desc(), F.col("n").asc()]
    return ranked_top_k_by_group(cand.dropDuplicates(["q", "n"]), k, "q", order)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m_sub: int = 8,
    n_codes: int = 16,
    rerank: int | None = None,
    seed: int = 42,
    query_key: str = "q",
    corpus_key: str = "n",
    vec: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011): codebooks →
    m-byte codes → ADC shortlist → exact re-rank, ``(q, n, score,
    rank)``; the same rows ``pq_index`` + ``pq_query`` return, fitted
    per call and never committed.

    The 100 TB story is MEMORY, complementing IVF's compute story: the
    corpus is encoded into ``m_sub`` small ints per row in one narrow
    Arrow pass, and the ADC scan scores a row from those codes with m
    adds against per-query lookup tables. Only the ``rerank`` shortlist
    (default 4k per query) touches original vectors for the
    exact-cosine rerank, so precision of the final ordering is exact
    over the shortlist and only recall is approximate. Codebooks train
    per subspace on the same sample protocol as ``ivf_topk``, on
    L2-normalized vectors, so squared-L2 ADC rank agrees with cosine
    (|a-b|² = 2-2cosθ on unit vectors). Queries are collected
    driver-side (the bounded query-batch contract) and checked like
    ``ivf_topk``'s.
    """
    return _fitted_topk(queries, corpus, k, None, rerank, seed, query_key,
                        corpus_key, vec, "pq_topk", m_sub=m_sub,
                        n_codes=n_codes)


def _auto_n_bits(n: int, per_bucket: int = 32) -> int:
    """SRP depth for an ``n``-point corpus: enough hyperplanes that a
    bucket holds ~``per_bucket`` points per table, clamped to [4, 16].

    A FIXED depth is a fixture-tuned constant that breaks at scale:
    the r7 sf1 probe measured the 6-bit tables (64 buckets) at 213 s /
    405 MB shuffle on a 20k-point corpus — dense buckets make the
    candidate pair list quadratic — while depth 10 (1024 buckets) ran
    the same corpus in 22 s. Scaling bits with log2(n) keeps collision
    lists, and therefore candidate pairs, O(n) — UP TO THE CLAMP: at
    16 bits a table has 65,536 buckets, so beyond ~2M points
    (per_bucket * 2^16) occupancy grows linearly again and candidate
    pairs turn quadratic in n/2^16. Past that scale, use
    ``knn_join_partitioned`` (r9): an IVF coarse quantizer partitions
    first and SRP depth derives from CELL occupancy, multiplying the
    bucket space by n_cells — deeper SRP codes than 16 bits mostly
    shred recall rather than buy speed, so widening the space, not
    the code, is the scale move."""
    return min(16, max(4, math.ceil(math.log2(max(n, 2) / per_bucket))))


def knn_join(
    df: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    key: str = "vec_id",
    vec: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate kNN SELF-join: for EVERY point, its top-``k``
    cosine neighbors — the all-points companion to the query-batch ANN
    operators (the building block of kNN-graph construction, dedup
    clustering, and label propagation over embeddings).

    Same scale anatomy as ``embed_neardup_bucketed``: candidates from
    multi-table SRP bucket collisions (directed, a ≠ b), exact-cosine
    scoring of candidates only, then top-k per point through the
    rank-filter that compiles to WindowGroupLimit — so only k rows per
    point per partition reach the final shuffle. Precision is exact on
    the candidate set; recall is the bucketed approximation, gated
    in-query by the registry entry.

    ``n_bits=None`` (default) derives the SRP depth from the corpus
    size via ``_auto_n_bits`` so bucket occupancy — and the candidate
    pair count — stays O(n) up to the 16-bit depth clamp (~2M points;
    see ``_auto_n_bits``); pass an explicit depth to pin a recall/cost
    trade instead. The derivation needs the row count: pass a known
    (even approximate — only its log2 matters) count via ``n_rows`` to
    skip the ``df.count()`` job, which otherwise re-executes the full
    upstream plan of an expensive computed input; alternatively
    ``df.cache()`` before calling so the count pass is also the
    materialization pass.
    """
    head = df.select(vec).first()
    if head is None:
        return _empty_knn(df, key)
    if n_bits is None:
        n_bits = _auto_n_bits(n_rows if n_rows is not None else df.count())
    dim = len(head[0])
    banded = _srp_banded(df, key, vec, dim, n_bits, n_tables, seed)
    return _knn_from_bands(df, banded, ["t", "bucket"], key, vec, dim, k)


def _empty_knn(df: DataFrame, key: str) -> DataFrame:
    """The empty ``(a, b, sim, rank)`` result, keys of ``key``'s type."""
    key_type = df.schema[key].dataType.simpleString()
    return local_df(df.sparkSession, [],
                    f"a {key_type}, b {key_type}, sim double, rank int")


def _knn_from_bands(
    df: DataFrame, banded: DataFrame, band: list[str], key: str, vec: str,
    dim: int, k: int,
) -> DataFrame:
    """The kNN self-join tail of ``knn_join`` and
    ``knn_join_partitioned``: directed pairs ``a != b`` sharing a band
    key (the ``band`` columns of the ``k``-keyed ``banded`` rows), exact
    cosine on those candidates, then top-``k`` per ``a``.

    The band table inherits the corpus scan's partitioning (ONE
    partition for a small single-file input), so when the raw input is
    narrower than the cluster the pair explosion is first spread on the
    band key (r14: the 2.5M-pair candidate pass went from 2.0-2.2 s to
    0.7-1.0 s). The eager checkpoint after scoring is the 64 KB-codegen
    barrier (``_verified_ordered_pairs``)."""
    sc = df.sparkSession.sparkContext
    spread = banded
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        spread = banded.repartition(sc.defaultParallelism, *band)
    cand = (
        spread.select(F.col("k").alias("a"), *band)
        .join(banded.select(F.col("k").alias("b"), *band), band)
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = df.select(F.col(key).alias("a"), F.col(vec).alias("ea"))
    vb = df.select(F.col(key).alias("b"), F.col(vec).alias("eb"))
    scored = _cosine_scored(cand, va, vb, dim).localCheckpoint(eager=True)
    return ranked_top_k_by_group(
        scored, k, "a", [F.col("sim").desc(), F.col("b")]
    )


def _auto_n_cells(n: int, probe_cells: int = 2, per_bucket: int = 32) -> int:
    """Coarse-cell count for an ``n``-point corpus — the knob the r9
    ceiling probe said to make self-setting (VERDICT r9 item 5),
    mirroring the r7 fixture-constant lesson that killed fixed 6-bit
    SRP depth.

    Target EXPECTED cell occupancy = ``per_bucket * 2^12`` (131k at
    the default): the occupancy-adaptive mask then still has 4 spare
    bits below its 16-bit/cell clamp (cell capacity
    ``per_bucket * 2^16`` = 2M), so cells up to ~16x the mean — real
    k-means skew on clustered data — stay inside the adaptive range
    instead of going quadratic. ``n_cells = ceil(n * probe_cells /
    target)``, clamped to [probe_cells, 1024]: the lower clamp keeps
    multi-probe legal on small corpora; the upper clamp bounds the
    DRIVER-SIDE quantizer fit cost (``quantizer_sample_n`` scales the
    sample at 8 rows/centroid past 256 cells — 8192 rows at the
    clamp — so a higher cell count means a bigger driver collect +
    numpy fit, and the 16-bit adaptive-mask capacity above already
    absorbs occupancy past the clamp). At the caps this covers ~67M points at
    ``probe_cells=2``; past that, raise the sample and re-fit — the
    log-scale re-fit move the ``knn_join_partitioned`` docstring
    names (``ivf_refit`` is the persisted-index form of it)."""
    target = per_bucket << 12
    return min(1024, max(probe_cells, math.ceil(n * probe_cells / target)))


def knn_join_partitioned(
    df: DataFrame,
    k: int = 5,
    n_cells: int | None = 64,
    probe_cells: int = 2,
    n_bits: int | None = None,
    n_tables: int = 8,
    seed: int = 42,
    key: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """kNN self-join past the flat-SRP ceiling (VERDICT r8 item 4):
    hierarchical IVF-cell → SRP-within-cell bucketing — the
    partition-first recipe ``_auto_n_bits``'s docstring sketches,
    implemented.

    Why: flat SRP clamps at 16 bits (65,536 buckets/table), so beyond
    ~2M points (``per_bucket * 2^16``) bucket occupancy grows linearly
    and candidate pairs quadratically. Partitioning first multiplies
    the bucket space: a coarse quantizer (the IVF index fit,
    ``ann_index._fit_rows``) assigns every point to its
    ``probe_cells`` nearest cells (multi-assignment is the
    boundary-recall move: a neighbor pair straddling a cell border
    still shares a cell when either point's second-nearest is the
    other's first). Within a cell, SRP depth is
    derived from the EXPECTED CELL occupancy
    (``n * probe_cells / n_cells``), so the effective bucket count is
    ``n_cells × 2^bits`` per table — with ``n_cells=1024`` the O(n)
    candidate regime extends to ~2B points, three orders past the
    flat clamp, and ``n_cells`` itself can grow with log-scale
    re-fits. Candidate pairs collide on ``(cell, t, bucket)``; a pair
    sharing both probe cells is deduplicated by the existing distinct.

    ``n_cells=None`` derives the cell count from one cheap corpus
    count via ``_auto_n_cells`` (expected occupancy ``per_bucket *
    2^12`` per cell — see its docstring for the clamp arithmetic);
    an explicit ``n_cells`` pins it (the registry gate does, for
    exact replayability).

    Depth is OCCUPANCY-ADAPTIVE per cell (``n_bits=None``): real cell
    sizes are skewed (k-means cells on clustered data differ by orders
    of magnitude), so a single depth derived from the MEAN lets dense
    cells go quadratic exactly like the flat clamp did — the r9
    ceiling probe measured fixed-depth partitioned pairs growing 1.3×
    per corpus doubling from cell skew alone. Instead every vector
    gets one MAX-DEPTH (16-bit) SRP code and each cell masks it down
    to ``ceil(log2(cell_size / per_bucket))`` low bits — masking low
    bits of an SRP code IS the depth-``b`` code of the first ``b``
    hyperplanes, so sparse cells keep shallow codes (high collision
    probability — recall where density is low) while dense cells get
    deep ones (bounded occupancy where pairs explode). Cost: one
    count-by-cell aggregation (n_cells rows to the driver) before
    banding. Pass an explicit ``n_bits`` to pin a uniform depth
    instead (the registry gate does, for exact replayability).

    Same precision contract as ``knn_join``: exact cosine on
    candidates only (with the 64 KB-codegen checkpoint barrier),
    top-k per point via WindowGroupLimit. Recall = P(shared cell) ×
    SRP union bound within the cell; probe_cells and n_tables are the
    recall knobs. Output ``(a, b, sim, rank)`` — drop-in for
    ``knn_join``.

    Scale shape: one driver-side sample fit (ms), one Arrow matmul
    pass for cell assignment + banding, one tiny cell-count agg, ONE
    shuffle keyed by (cell, t, bucket), then candidate-sized verify
    joins. The corpus is never shuffled whole except by the uniform
    band key.
    """
    # argument check FIRST (free) — the empty-input early return costs
    # a Spark job and must not hide a misconfiguration (review, r9)
    if probe_cells < 1 or (n_cells is not None and probe_cells > n_cells):
        raise ValueError(
            f"probe_cells must be in [1, n_cells]: {probe_cells}/{n_cells}"
        )
    if df.select(vec).first() is None:
        return _empty_knn(df, key)
    if n_cells is None:
        # self-setting cell count from one cheap count (VERDICT r9
        # item 5); the lower clamp in _auto_n_cells keeps
        # probe_cells <= n_cells by construction
        n_cells = _auto_n_cells(df.count(), probe_cells)
    # coarse quantizer: the IVF index fit (its sample scales with the
    # cell count, so an auto-derived large n_cells stays resolvable)
    cents, _, dim = _fit_rows(df, key, vec, n_cells, None, None, seed,
                              "knn_join_partitioned")
    cellp = nearest_cells_batch(cents.tolist(), nprobe=probe_cells)
    code_bits = n_bits if n_bits is not None else 16
    tables = [
        srp_hyperplanes(dim, n_bits=code_bits, seed=seed + 1000 * t)
        for t in range(n_tables)
    ]
    buckets = srp_buckets_batch(tables)
    # one pass computes cells AND max-depth srp codes; explode to
    # (k, cell, t, code) band rows
    coded = (
        df.select(
            F.col(key).alias("k"),
            cellp(F.col(vec).cast("array<double>")).alias("cells"),
            buckets(F.col(vec)).alias("bks"),
        )
        .select("k", F.explode("cells").alias("cell"), "bks")
        .localCheckpoint(eager=True)  # feeds the count agg AND banding
    )
    if n_bits is None:
        # occupancy-adaptive depth: mask each cell's codes down to
        # ceil(log2(size / per_bucket)) low bits (see docstring)
        sizes = coded.groupBy("cell").count().collect()
        per_bucket = 32
        masks = [
            (
                int(r["cell"]),
                (1 << min(16, max(4, math.ceil(
                    math.log2(max(int(r["count"]), 2) / per_bucket)
                )))) - 1,
            )
            for r in sizes
        ]
        mask_df = local_df(
            df.sparkSession, masks, "cell int, mask bigint"
        )
        banded = (
            coded.join(F.broadcast(mask_df), "cell")
            .select(
                "k", "cell", F.posexplode("bks").alias("t", "code"), "mask"
            )
            .select(
                "k", "cell", "t",
                F.col("code").bitwiseAND(F.col("mask")).alias("bucket"),
            )
        )
    else:
        banded = coded.select(
            "k", "cell", F.posexplode("bks").alias("t", "bucket")
        )
    return _knn_from_bands(df, banded, ["cell", "t", "bucket"], key, vec,
                           dim, k)


def incremental_embed_dedup(
    new_vecs: DataFrame,
    store,
    table: str = "seen_embed",
    key: str = "vec_id",
    vec: str = "embedding",
    threshold: float = 0.8,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
):
    """Rolling-ingest embedding near-dedup — the vector-space member
    of the incremental family (exact, near, span, embed).

    Keep policy (the DOMINATOR rule, exactly replayable): a batch
    vector ``b`` survives iff no batch vector ``a`` with a lower key
    has ``round(cos(a,b),4) >= threshold``, and no previously
    COMMITTED vector does either. Unlike ``near_dedup_corpus``'s
    connected components, chains are NOT collapsed (a~b, b~c, a≁c
    keeps a and c) — chain-collapse is usually wrong for semantic
    similarity, and the non-transitive rule needs no iterative
    closure. A dominator drops its
    target regardless of its OWN survival (whether it lost to history
    or to another dominator); that keeps the rule monotone and
    order-free (documented choice, pinned by test).

    Scale path: SRP buckets gate BOTH probes. Within-batch candidates
    come from the (table, bucket) self-join; the history probe joins
    the batch's bucket set (BROADCAST — batch-sized) against the
    committed band table, so the corpus-scale history is scanned once
    with the filter applied and NEVER shuffled; only the colliding
    history keys' vectors (candidate-sized) are fetched for the exact
    verify. Both verify joins keep the eager-checkpoint barrier
    between scoring and thresholding (the dim=64 Janino 64 KB lesson
    above). Recall is the SRP union bound — same contract, same knobs
    as ``embed_neardup_bucketed``; precision is exact.

    Commits ONE table per batch (ADVICE r8 — the earlier two-table
    layout could tear between the bands append and the vecs append):
    each survivor contributes ``n_tables`` band rows
    (``k, t, bucket, v=NULL`` — the probe index) and one vector row
    (``k, t=NULL, bucket=NULL, v`` — the verify payload), unioned into
    a single append, so the history commit is atomic (one manifest
    link on ``SnapshotStateStore``) and a crash can never leave a band
    row whose vector payload is missing. Readers split the table back by
    ``t IS [NOT] NULL``. Protocol: ``_embed_plan`` computes the
    survivors and those rows over checkpoints, then ``_commit_history``
    appends them; the ingest CLI writes the survivors between the two,
    so a failed write commits nothing (see ``incremental_exact_dedup``).
    Returns ``(survivors_df, n_committed)``, ``n_committed`` counting
    kept vectors. Same single-writer-per-table contract as the other
    incremental forms.

    Batch-size contract: the BATCH side is broadcast three times
    (its bucket set into the history band probe, its vectors into the
    history verify, the survivor key set into the final semi-joins) —
    correct under the batch ≪ history ingest framing, i.e. the batch
    must fit in a broadcast (~spark.sql.autoBroadcastJoinThreshold ×
    executors of driver memory headroom). There is no
    ``broadcast_batch=False`` backfill path here (unlike
    ``incremental_exact_dedup``): a corpus-sized "batch" should go
    through ``embed_neardup_bucketed`` as a batch job instead.
    """
    survivors, rows, n = _embed_plan(
        new_vecs, store, table, key, vec, threshold, n_bits, n_tables, seed
    )
    return survivors, _commit_history(store, table, rows, n)


def _embed_plan(
    new_vecs, store, table, key, vec, threshold, n_bits=8, n_tables=8,
    seed=42,
):
    """``incremental_embed_dedup`` up to its commit: ``(survivors, new
    band and vector rows, the number of kept vectors)``, every frame
    over checkpoints."""
    spark = new_vecs.sparkSession
    # migration guard (review, r9): a state dir written by the
    # pre-atomic two-table layout must FAIL LOUDLY, not be silently
    # ignored (skipping it would re-admit every previously-ingested
    # near-duplicate and start a fresh empty history)
    if store.exists(f"{table}_bands") or store.exists(f"{table}_vecs"):
        raise ValueError(
            f"state dir holds the legacy two-table layout "
            f"({table}_bands/{table}_vecs); migrate it into the "
            f"single atomic {table!r} table (band rows + vector rows "
            "discriminated by t IS NULL) before ingesting"
        )
    head = new_vecs.select(vec).first()
    if head is None:
        return new_vecs, None, 0
    dim = len(head[0])
    batch = new_vecs.select(
        F.col(key).alias("k"), F.col(vec).alias("v")
    ).localCheckpoint(eager=True)
    banded = _srp_banded(
        batch, "k", "v", dim, n_bits, n_tables, seed
    ).localCheckpoint(eager=True)
    sim = F.round(cosine_fixed("ea", "eb", dim), 4)

    # layer 1: within-batch dominators (lower key wins) — the shared
    # candidate/verify core (incl. its 64 KB-codegen barrier)
    va = batch.select(F.col("k").alias("a"), F.col("v").alias("ea"))
    vb = batch.select(F.col("k").alias("b"), F.col("v").alias("eb"))
    dominated = _verified_ordered_pairs(
        banded, va, vb, dim, threshold
    ).select(F.col("b").alias("k"))

    # layer 2: history dominators via the committed band index.
    # ONE history table (atomic commit — ADVICE r8): band rows carry
    # t/bucket with v NULL, vector rows carry v with t NULL.
    if store.exists(table):
        hist = store.read(spark, table)
        hist_bands = hist.filter(F.col("t").isNotNull()).select(
            "k", "t", "bucket"
        )
        hpairs = (
            hist_bands.withColumnRenamed("k", "a")
            .join(F.broadcast(banded.withColumnRenamed("k", "b")),
                  ["t", "bucket"])
            .select("a", "b")
            .distinct()
            .localCheckpoint(eager=True)  # candidate-sized
        )
        hist_vecs = hist.filter(F.col("t").isNull()).select("k", "v")
        hva = hist_vecs.select(
            F.col("k").alias("a"), F.col("v").alias("ea")
        ).join(F.broadcast(hpairs.select("a").distinct()), "a", "left_semi")
        hscored = (
            hpairs.join(hva, "a")
            .join(F.broadcast(vb), "b")
            .select("a", "b", sim.alias("sim"))
            .localCheckpoint(eager=True)
        )
        dominated = dominated.unionByName(
            hscored.filter(F.col("sim") >= threshold).select(
                F.col("b").alias("k")
            )
        )

    keep = (
        batch.select("k")
        .join(dominated.distinct(), "k", "left_anti")
        .localCheckpoint(eager=True)
    )
    vec_type = batch.schema["v"].dataType
    band_rows = banded.join(F.broadcast(keep), "k").select(
        "k", "t", "bucket", F.lit(None).cast(vec_type).alias("v")
    )
    vec_rows = batch.join(F.broadcast(keep), "k").select(
        "k",
        F.lit(None).cast("int").alias("t"),
        F.lit(None).cast("bigint").alias("bucket"),
        "v",
    )
    survivors = new_vecs.join(
        F.broadcast(keep.withColumnRenamed("k", key)), key, "left_semi"
    )
    return survivors, band_rows.unionByName(vec_rows), keep.count()
