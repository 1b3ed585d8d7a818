"""Command-line driver — the reference's ``k-means.sh`` lifecycle.

Reference trace (k-means.sh): truncate state → seed first centroid →
k-means++ rounds → Lloyd loop printing the latest centroids and the
convergence delta each pass → pivot/TSV export for charting. This CLI
is that workflow against any parquet table (or the built-in golden
4-cluster generator):

    python -m clickhouse_k_means_spark --generate --k 4 --out /tmp/plot
    python -m clickhouse_k_means_spark --input lineitem.parquet \
        --key l_orderkey --features l_quantity,l_extendedprice --k 4
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="clickhouse_k_means_spark",
        description="k-means++/Lloyd clustering driver (reference k-means.sh parity)",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of the source table")
    src.add_argument(
        "--generate",
        action="store_true",
        help="use the seeded golden 4-cluster dataset (k-means.sql:1-4 shape)",
    )
    p.add_argument("--key", help="row-key column (required with --input)")
    p.add_argument(
        "--features",
        help="comma-separated coordinate columns (required with --input)",
    )
    p.add_argument("--k", type=int, default=4, help="clusters (reference: 4)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument(
        "--out",
        help="directory for the pivot TSV export (reference: TSV to clipboard); "
        "omitted → print summary only",
    )
    p.add_argument(
        "--history",
        help="optional parquet path to write the WCR-parity centroid history",
    )
    p.add_argument("--quiet", action="store_true", help="suppress per-step prints")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.input and not (args.key and args.features):
        print("--input requires --key and --features", file=sys.stderr)
        return 2

    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.plans.kmeans import KMeansEngine
    from clickhouse_k_means_spark.plans.optimal_k import elbow
    from clickhouse_k_means_spark.session import get_spark
    from clickhouse_k_means_spark.sources.dataset import from_table
    from clickhouse_k_means_spark.sources.generator import golden_points

    spark = get_spark("kmeans-cli")
    if args.generate:
        src = golden_points(spark, seed=args.seed)
        yh = from_table(src, "i", ["x", "y"])
    else:
        src = spark.read.parquet(args.input)
        yh = from_table(src, args.key, args.features.split(","))

    eng = KMeansEngine(k=args.k, seed=args.seed, max_iter=args.max_iter)
    res = eng.fit(yh)

    if not args.quiet:
        # per-step progress, like the loop's `select C from WCR ...
        # limit 1 by j` print (k-means.sh:28-29)
        steps: dict[int, list] = {}
        for step, j, c in res.history:
            steps.setdefault(step, []).append((j, [round(x, 4) for x in c]))
        for step in sorted(steps):
            print(f"step {step}: {steps[step]}")
            print(".")

    inertia = elbow(yh, res.model)  # None on an empty input
    summary = {
        "k": args.k,
        "seed": args.seed,
        "iterations": res.n_iter,
        "converged": res.converged,
        "final_movement": round(res.movements[-1], 6) if res.movements else None,
        "elbow": round(inertia, 4) if inertia is not None else None,
        "centroids": {j: [round(x, 4) for x in c] for j, c in res.model},
    }
    print(json.dumps(summary))

    if args.history:
        res.history_df(spark).write.mode("overwrite").parquet(args.history)

    if args.out:
        from clickhouse_k_means_spark.operators.pivot import pivot_clusters
        from clickhouse_k_means_spark.sources.sinks import write_tsv

        assigned = eng.assign(yh, res.model)
        xy = assigned.join(yh, "i").select(
            F.col("Y")[0].alias("x"),
            F.col("Y")[1].alias("y") if len(res.model[0][1]) > 1 else F.lit(None).alias("y"),
            "j",
        )
        pivoted = pivot_clusters(xy, [j for j, _ in res.model])
        write_tsv(pivoted, args.out)
        print(f"pivot TSV written to {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
