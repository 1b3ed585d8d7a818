"""Top-k helpers (reference T1/T4/T5 shapes, SURVEY §2.6).

``orderBy(...).limit(k)`` already compiles to Spark's TakeOrdered —
per-partition heaps + a k-row merge on the driver, no global sort, the
right plan at any scale. These wrappers just name the idiom and add the
per-group variant used by similarity search.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, k: int, order: str | Column | Sequence) -> DataFrame:
    """Global top-k under ``order`` (TakeOrdered plan)."""
    order = [order] if isinstance(order, (str, Column)) else list(order)
    order = [F.col(o) if isinstance(o, str) else o for o in order]
    return df.orderBy(*order).limit(k)


def _rank_filter(
    df: DataFrame,
    k: int,
    group: str | Sequence[str],
    order: str | Column | Sequence,
    rank: str,
) -> DataFrame:
    group = [group] if isinstance(group, str) else list(group)
    order = [order] if isinstance(order, (str, Column)) else list(order)
    order = [F.col(o) if isinstance(o, str) else o for o in order]
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def top_k_by_group(
    df: DataFrame, k: int, group: str | Sequence[str], order: str | Column | Sequence
) -> DataFrame:
    """Top-k rows per group — rank-filter form; Spark ≥3.5 rewrites it
    to a partial WindowGroupLimit so only k rows per group per input
    partition reach the shuffle."""
    return _rank_filter(df, k, group, order, "__rank").drop("__rank")


def ranked_top_k_by_group(
    df: DataFrame, k: int, group: str | Sequence[str], order: str | Column | Sequence
) -> DataFrame:
    """``top_k_by_group`` that keeps the 1-based ``row_number`` under
    ``order`` as an ``int`` column ``rank`` — one window, the same
    WindowGroupLimit plan. The rank tail of every similarity search."""
    return _rank_filter(df, k, group, order, "rank")


def frequent_terms(
    df: DataFrame, term: str, support: int, weight: str | None = None
) -> DataFrame:
    """EXACT heavy hitters: every distinct ``term`` value whose count
    exceeds ``n / support``, with its exact count (ClickHouse ``topK``
    / ``anyHeavy`` parity — but exact where those are approximate).

    Scale design — why not plain ``groupBy(term).count()`` + filter:
    that shuffles the FULL vocabulary (trillions of distinct shingles
    at corpus scale) to answer a question about at most ``support``
    terms. Instead:

    1. **Per-partition Misra-Gries summaries** (one Arrow-batched
       ``mapInPandas`` pass, the engine's partial-aggregation
       exception to the no-Python rule — same category as the PCA
       partials). Each partition keeps ``support`` counters using the
       mergeable-summaries reduction (Agarwal et al., PODS'12): fold
       a batch's value counts in, then if more than ``support``
       counters survive subtract the (support+1)-th largest count from
       all and drop the non-positive. Pigeonhole guarantee: a term
       with global count > n/support has partition count
       > n_p/support on some partition, and Misra-Gries error is
       bounded by n_p/(support+1) < n_p/support, so every true heavy
       hitter survives in at least one partition's candidate set.
    2. **Exact recount of candidates only**: the candidate union is
       ≤ partitions × support rows — broadcast it as a semi-join
       filter so the big scan's groupBy shuffles only heavy-candidate
       occurrences.
    3. **Exact threshold**: ``count · support > n`` with the one-row
       total broadcast. Output is exact and partition-independent —
       the sketch only ever prunes, never decides.
    With ``weight`` (a positive integer column), this is exact
    ``topKWeighted``: thresholds, summaries, and the recount all run
    on weighted mass — Misra-Gries generalizes to weighted increments
    unchanged (Berinde et al., PODS'09), so the pruning guarantee
    holds against total weight.

    """
    if support < 1:
        raise ValueError(f"support must be >= 1, got {support}")
    import pandas as pd

    def mg_partials(batches):
        counters: dict = {}
        for pdf in batches:
            if weight is None:
                items = pdf[term].value_counts().items()
            else:
                items = pdf.groupby(term)["__w"].sum().items()
            for t, c in items:
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > support:
                kth = sorted(counters.values(), reverse=True)[support]
                counters = {
                    t: c - kth for t, c in counters.items() if c - kth > 0
                }
        yield pd.DataFrame({term: list(counters.keys())})

    w = F.lit(1).cast("bigint") if weight is None else F.col(weight).cast("bigint")
    tok = df.select(F.col(term).alias(term), w.alias("__w")).filter(
        F.col(term).isNotNull()
    )
    term_type = df.schema[term].dataType.simpleString()
    cands = tok.mapInPandas(
        mg_partials, schema=f"{term} {term_type}"
    ).distinct()
    total = tok.agg(F.sum("__w").alias("__n"))
    return (
        tok.join(F.broadcast(cands), term, "left_semi")
        .groupBy(term)
        .agg(F.sum("__w").alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") * support > F.col("__n"))
        .select(term, "cnt")
    )
