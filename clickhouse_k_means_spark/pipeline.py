"""Training-data pipeline CLI — the extended surface as runnable
commands.

The main CLI (``cli.py``) reproduces the reference's k-means.sh
lifecycle; this one drives the LLM-data operators the engine adds on
top, each as parquet-in → parquet-out with one JSON summary line on
stdout (machine-parseable, shell-composable — the same contract as
``bench.py``):

    python -m clickhouse_k_means_spark.pipeline dedup \
        --input docs.parquet --key doc_id --text text \
        --mode near --threshold 0.8 --out kept.parquet
    python -m clickhouse_k_means_spark.pipeline dedup \
        --input embedded.parquet --key doc_id --mode semantic \
        --vec embedding --k 1000 --threshold 0.9 --out kept.parquet
    python -m clickhouse_k_means_spark.pipeline split \
        --input docs.parquet --key doc_id \
        --weights train=0.9,val=0.05,test=0.05 --out split.parquet
    python -m clickhouse_k_means_spark.pipeline score \
        --input docs.parquet --key doc_id --text text --out scored.parquet
    python -m clickhouse_k_means_spark.pipeline sample \
        --input docs.parquet --key doc_id --n 1000 \
        --weight n_tok --out sample.parquet
    python -m clickhouse_k_means_spark.pipeline pack \
        --input scored.parquet --key doc_id --tokens n_tok \
        --budget 2048 --out packs.parquet
    python -m clickhouse_k_means_spark.pipeline chunk \
        --input docs.parquet --key doc_id --text text \
        --budget 2048 --overlap 128 --out chunks.parquet
    python -m clickhouse_k_means_spark.pipeline profile \
        --input docs.parquet --columns doc_id,lang --out profile.parquet
    python -m clickhouse_k_means_spark.pipeline cluster \
        --input pts.parquet --key id --features x,y \
        --algo dbscan --eps 0.1 --min-pts 10 --out labels.parquet
    python -m clickhouse_k_means_spark.pipeline ann build \
        --input vecs.parquet --state /state --nlist 64
    python -m clickhouse_k_means_spark.pipeline ann query \
        --input queries.parquet --state /state --k 10 --nprobe 4 \
        --out neighbors.parquet   # stats / refit / append likewise

Every command is deterministic (hash-seeded operators), so re-runs
produce identical outputs — the property that makes backfills and
incremental arrivals safe.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="clickhouse_k_means_spark.pipeline",
        description="training-data pipeline operators (parquet in/out)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, text: bool = False):
        sp.add_argument("--input", required=True, help="input parquet path")
        sp.add_argument("--out", required=True, help="output parquet path")
        sp.add_argument("--key", default="doc_id", help="row-key column")
        if text:
            sp.add_argument("--text", default="text", help="text column")

    d = sub.add_parser(
        "dedup",
        help="exact, near (MinHash), semantic (SemDeDup), span "
        "(C4-style sub-document), or cdc (any-alignment "
        "content-defined chunking) removal",
    )
    common(d, text=True)
    d.add_argument(
        "--mode", choices=["exact", "near", "semantic", "span", "cdc"],
        default="exact",
    )
    d.add_argument(
        "--threshold", type=float, default=0.8,
        help="near mode: exact-Jaccard verification threshold "
        "(pass -1 to skip verification — banding-only); "
        "semantic mode: in-cluster cosine threshold",
    )
    d.add_argument(
        "--vec", default="embedding",
        help="semantic mode: embedding column (array<double>)",
    )
    d.add_argument(
        "--k", type=int, default=8,
        help="semantic mode: k-means clusters (choose ~n/cluster_size)",
    )
    d.add_argument("--seed", type=int, default=42)
    d.add_argument(
        "--span-tokens", type=int, default=10,
        help="span mode: tokens per dedup span (tiling width)",
    )
    d.add_argument(
        "--divisor", type=int, default=8,
        help="cdc mode: expected chunk length in tokens "
        "(content-defined breakpoint rate)",
    )

    s = sub.add_parser("split", help="deterministic train/val/test split")
    common(s)
    s.add_argument(
        "--weights", default="train=0.9,val=0.05,test=0.05",
        help="name=frac comma list (must sum to ~1)",
    )
    s.add_argument("--salt", type=int, default=42)

    sc = sub.add_parser("score", help="per-doc quality/token/LM metrics")
    common(sc, text=True)

    sa = sub.add_parser("sample", help="weighted sample without replacement")
    common(sa)
    sa.add_argument("--n", type=int, required=True, help="sample size")
    sa.add_argument(
        "--weight", default=None,
        help="weight column (default: token count of --text)",
    )
    sa.add_argument("--text", default="text")
    sa.add_argument("--salt", type=int, default=7)

    pk = sub.add_parser("pack", help="token-budget sequence packing")
    common(pk)
    pk.add_argument("--tokens", required=True, help="token-count column")
    pk.add_argument("--budget", type=int, default=2048)

    ch = sub.add_parser("chunk", help="token-budget document chunking")
    common(ch, text=True)
    ch.add_argument("--budget", type=int, default=2048)
    ch.add_argument("--overlap", type=int, default=0)

    ig = sub.add_parser(
        "ingest",
        help="incremental dedup of an arriving batch against a "
        "persistent state directory (exact / near / span / embed "
        "history; only new state is committed per batch)",
    )
    common(ig, text=True)
    ig.add_argument(
        "--state", required=True,
        help="state-store directory (SnapshotStateStore; one WRITER "
        "per state dir — the exactly-once ingest discipline)",
    )
    ig.add_argument(
        "--mode", choices=["exact", "near", "span", "embed", "cdc"],
        default="exact",
    )
    ig.add_argument(
        "--threshold", type=float, default=0.8,
        help="near mode: exact-Jaccard verification threshold "
        "(-1 = banding only); embed mode: cosine threshold",
    )
    ig.add_argument(
        "--vec", default="embedding",
        help="embed mode: embedding column (array<double>)",
    )
    ig.add_argument(
        "--span-tokens", type=int, default=10,
        help="span mode: tokens per dedup span (tiling width)",
    )
    ig.add_argument(
        "--divisor", type=int, default=8,
        help="cdc mode: expected chunk length in tokens",
    )

    cp = sub.add_parser(
        "compact",
        help="bin-pack a state table's small files (snapshot-store "
        "OPTIMIZE — incremental ingest leaves one file per commit; a "
        "10k-commit reader pays 10k opens per scan otherwise)",
    )
    cp.add_argument("--state", required=True, help="state-store directory")
    cp.add_argument(
        "--table", default=None,
        help="table name (default: every table in the store)",
    )
    cp.add_argument(
        "--target-bytes", type=int, default=128 << 20,
        help="target output file size (default 128 MiB)",
    )
    cp.add_argument(
        "--vacuum", action="store_true",
        help="also delete files unreferenced by the latest snapshot "
        "(drops time travel to older versions)",
    )

    an = sub.add_parser(
        "ann",
        help="persistent IVF/PQ ANN index lifecycle over a state store: "
        "build / append / query / stats / refit (operators/ann_index)",
    )
    an.add_argument(
        "action",
        choices=[
            "build", "append", "upsert", "query", "stats", "refit", "delete",
            "compact",
        ],
    )
    an.add_argument("--state", required=True, help="state-store directory")
    an.add_argument("--table", default="ivf_index", help="index table name")
    an.add_argument(
        "--input", default=None,
        help="input parquet (vectors for build/append, queries for query)",
    )
    an.add_argument(
        "--out", default=None,
        help="output parquet (query results / stats report)",
    )
    an.add_argument("--key", default="vec_id", help="key column")
    an.add_argument("--vec", default="embedding", help="vector column")
    an.add_argument(
        "--kind", choices=["ivf", "pq", "ivfpq"], default="ivf",
        help="index family: IVF cells (compute-side), PQ codes "
        "(memory-side), or the composed IVFPQ (cells x residual "
        "codes); stats/refit report occupancy skew (ivf), codebook "
        "quantization error (pq), or both (ivfpq)",
    )
    an.add_argument(
        "--nlist", type=int, default=None,
        help="quantizer cells (build default 16; refit default inherits "
        "the committed index's cell count — pass explicitly to resize)",
    )
    an.add_argument(
        "--m-sub", type=int, default=None,
        help="pq: subspaces (build default 8; refit default inherits "
        "the committed geometry — pass explicitly to resize)",
    )
    an.add_argument(
        "--n-codes", type=int, default=None,
        help="pq: codes/subspace (build default 16; refit default "
        "inherits — pass explicitly to resize)",
    )
    an.add_argument("--rerank", type=int, default=None, help="pq: shortlist")
    an.add_argument("--k", type=int, default=10, help="query: top-k")
    an.add_argument("--nprobe", type=int, default=2, help="query: cells probed")
    an.add_argument(
        "--version", type=int, default=None,
        help="query/stats: pin a committed snapshot version (time travel)",
    )
    an.add_argument("--seed", type=int, default=42)
    an.add_argument(
        "--keys", default=None,
        help="delete: comma list of keys to remove (or pass --input "
        "parquet holding the key column); absent keys are a no-op — "
        "no version churn",
    )
    an.add_argument(
        "--where", default=None,
        help="query: SQL predicate for FILTERED search — pushed into "
        "the candidate scan with per-query adaptive probe widening, "
        "never post-filtered from a fixed-k shortlist. Without "
        "--meta it filters the index's own columns (n, v/codes); "
        "with --meta it filters that metadata table and the "
        "surviving keys gate the scan. delete: predicate TAKEDOWN "
        "(r14) — tombstones every current key the predicate matches, "
        "one O(batch) merge-on-read commit",
    )
    an.add_argument(
        "--meta", default=None,
        help="query/delete: metadata parquet the --where predicate "
        "runs over",
    )
    an.add_argument(
        "--meta-key", default="n",
        help="query/delete: key column in --meta matching the index "
        "keys",
    )
    an.add_argument(
        "--recall", action="store_true",
        help="stats: also probe measured recall@k vs exact brute "
        "force (ann_recall_probe, ppm) — costs one corpus pass, the "
        "scheduled diagnostic; uses --k/--nprobe/--rerank as the "
        "probe budget",
    )
    an.add_argument(
        "--vacuum", action="store_true",
        help="compact: also vacuum after optimize — reclaims dead "
        "bytes but PRUNES TIME TRAVEL to the head version (omit while "
        "readers still replay pinned versions)",
    )
    an.add_argument(
        "--max-versions", type=int, default=32,
        help="compact advisor: retained-version threshold",
    )
    an.add_argument(
        "--dead-ratio", type=float, default=1.0,
        help="compact advisor: dead/live bytes threshold",
    )

    pr = sub.add_parser("profile", help="one-scan table profile")
    pr.add_argument("--input", required=True, help="input parquet path")
    pr.add_argument("--out", required=True, help="output parquet path")
    pr.add_argument(
        "--columns", default=None, help="comma list (default: all columns)"
    )
    cl = sub.add_parser(
        "cluster", help="cluster rows on numeric feature columns"
    )
    cl.add_argument("--input", required=True, help="input parquet path")
    cl.add_argument("--out", required=True, help="output parquet path")
    cl.add_argument("--key", required=True, help="unique row key column")
    cl.add_argument(
        "--features", required=True, help="comma list of numeric columns"
    )
    cl.add_argument(
        "--algo", choices=["kmeans", "bisecting", "dbscan"], default="kmeans"
    )
    cl.add_argument("--k", type=int, default=4, help="clusters (k-means)")
    cl.add_argument("--eps", type=float, default=1.0, help="dbscan cell side")
    cl.add_argument(
        "--min-pts", type=int, default=10, help="dbscan density threshold"
    )
    cl.add_argument("--seed", type=int, default=42)
    return p


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if (
        getattr(args, "cmd", None) == "ann"
        and getattr(args, "action", None) in ("query", "delete", "stats")
        and not args.where
        and (args.meta is not None or args.meta_key != "n")
    ):
        # loud-failure rule (ADVICE r13 / r9): --meta / --meta-key
        # without --where would otherwise be silently ignored, turning
        # a malformed FILTERED query (or predicate takedown) into an
        # unfiltered search / key-list delete
        parser.error(
            f"ann {args.action}: --meta/--meta-key require --where (the "
            "predicate; without one the metadata table would be "
            "silently ignored)"
        )

    from pyspark.sql import functions as F

    from clickhouse_k_means_spark.session import get_spark

    spark = get_spark("pipeline-cli")
    if args.cmd == "compact":
        # maintenance command: no parquet in/out — operates on the
        # state store directly (OPTIMIZE + optional VACUUM)
        from clickhouse_k_means_spark.sources.state import SnapshotStateStore

        store = SnapshotStateStore(args.state)
        tables = [args.table] if args.table else store.tables()
        report = {}
        for t in tables:
            v = store.optimize(spark, t, target_bytes=args.target_bytes)
            removed = store.vacuum(t) if args.vacuum else 0
            report[t] = {"version": int(v), "files_vacuumed": int(removed)}
        print(json.dumps({"cmd": "compact", "state": args.state,
                          "tables": report}))
        return 0
    if args.cmd == "ann":
        # index-lifecycle command: state-store in/out; --input/--out
        # only where the action consumes/produces rows
        from clickhouse_k_means_spark.operators.ann_index import (
            ivf_append,
            ivf_index,
            ivf_query,
            ivf_refit,
            ivf_stats,
            ivfpq_append,
            ivfpq_index,
            ivfpq_query,
            pq_append,
            pq_index,
            pq_query,
        )
        from clickhouse_k_means_spark.sources.state import SnapshotStateStore

        store = SnapshotStateStore(args.state)
        summary = {"cmd": "ann", "action": args.action, "kind": args.kind,
                   "state": args.state, "table": args.table}
        if args.action in ("build", "append", "upsert", "query") and not args.input:
            print(f"ann {args.action}: --input required", file=sys.stderr)
            return 2
        if args.action == "delete" and not (
            args.input or args.keys or args.where
        ):
            print(
                "ann delete: --keys, --input, or --where required",
                file=sys.stderr,
            )
            return 2
        if args.action in ("query", "stats") and not args.out:
            print(f"ann {args.action}: --out required", file=sys.stderr)
            return 2
        if args.action == "build":
            vecs = spark.read.parquet(args.input)
            if args.kind == "ivfpq":
                v = ivfpq_index(vecs, store, table=args.table,
                                nlist=args.nlist or 8,
                                m_sub=args.m_sub or 8,
                                n_codes=args.n_codes or 16,
                                seed=args.seed, key=args.key, vec=args.vec)
            elif args.kind == "pq":
                v = pq_index(vecs, store, table=args.table,
                             m_sub=args.m_sub or 8,
                             n_codes=args.n_codes or 16,
                             seed=args.seed, key=args.key, vec=args.vec)
            else:
                v = ivf_index(vecs, store, table=args.table,
                              nlist=args.nlist or 16, seed=args.seed,
                              key=args.key, vec=args.vec)
            summary.update(version=int(v), rows_in=vecs.count())
        elif args.action == "append":
            vecs = spark.read.parquet(args.input)
            appender = {"pq": pq_append, "ivfpq": ivfpq_append}.get(
                args.kind, ivf_append)
            v = appender(vecs, store, table=args.table,
                         key=args.key, vec=args.vec)
            summary.update(version=int(v), rows_in=vecs.count())
        elif args.action == "upsert":
            # kind-agnostic: ann_upsert detects the family from the
            # committed layout (like ann_delete)
            from clickhouse_k_means_spark.operators.ann_index import (
                ann_upsert,
            )

            vecs = spark.read.parquet(args.input)
            v = ann_upsert(vecs, store, table=args.table,
                           key=args.key, vec=args.vec)
            summary.update(version=int(v), rows_in=vecs.count())
        elif args.action == "refit":
            if args.kind == "ivfpq":
                from clickhouse_k_means_spark.operators.ann_index import (
                    ivfpq_refit,
                )

                v = ivfpq_refit(spark, store, table=args.table,
                                nlist=args.nlist, m_sub=args.m_sub,
                                n_codes=args.n_codes, seed=args.seed)
            elif args.kind == "pq":
                from clickhouse_k_means_spark.operators.ann_index import (
                    pq_refit,
                )

                v = pq_refit(spark, store, table=args.table,
                             m_sub=args.m_sub, n_codes=args.n_codes,
                             seed=args.seed)
            else:
                v = ivf_refit(spark, store, table=args.table,
                              nlist=args.nlist, seed=args.seed)
            summary.update(version=int(v))
        elif args.action == "stats":
            if args.kind == "ivfpq":
                from clickhouse_k_means_spark.operators.ann_index import (
                    ivfpq_qerr,
                    ivfpq_skew_factor,
                    ivfpq_stats,
                )

                rep = ivfpq_stats(spark, store, table=args.table,
                                  version=args.version)
                rep.write.mode("overwrite").parquet(args.out)
                summary.update(
                    out=args.out,
                    rows_out=spark.read.parquet(args.out).count(),
                    skew_factor=round(
                        ivfpq_skew_factor(spark, store, table=args.table,
                                          version=args.version), 3
                    ),
                    qerr=round(
                        ivfpq_qerr(spark, store, table=args.table,
                                   version=args.version,
                                   seed=args.seed), 9
                    ),
                )
            elif args.kind == "pq":
                from clickhouse_k_means_spark.operators.ann_index import (
                    pq_qerr,
                    pq_stats,
                )

                rep = pq_stats(spark, store, table=args.table,
                               version=args.version, seed=args.seed)
                rep.write.mode("overwrite").parquet(args.out)
                summary.update(
                    out=args.out,
                    rows_out=spark.read.parquet(args.out).count(),
                    qerr=round(
                        pq_qerr(spark, store, table=args.table,
                                version=args.version, seed=args.seed), 9
                    ),
                )
            else:
                from clickhouse_k_means_spark.operators.ann_index import (
                    ivf_skew_factor,
                )

                rep = ivf_stats(spark, store, table=args.table,
                                version=args.version)
                rep.write.mode("overwrite").parquet(args.out)
                summary.update(
                    out=args.out,
                    rows_out=spark.read.parquet(args.out).count(),
                    skew_factor=round(
                        ivf_skew_factor(spark, store, table=args.table,
                                        version=args.version), 3
                    ),
                )
            # storage health rides every stats call (r13): the
            # compaction advisor is the refit_due pattern applied to
            # the snapshot store's replace-commit churn
            from clickhouse_k_means_spark.operators.ann_index import (
                ann_compact_due,
            )

            summary.update(
                compact_due=bool(ann_compact_due(store, args.table)),
                storage=store.storage_stats(args.table),
            )
            if args.recall:
                from clickhouse_k_means_spark.operators.ann_index import (
                    ann_recall_probe,
                )

                rkw = {"nprobe": args.nprobe} if args.kind != "pq" else {}
                if args.rerank and args.kind in ("pq", "ivfpq"):
                    rkw["rerank"] = args.rerank
                if args.where:
                    # filtered recall (r14): the advisor probes the
                    # FILTERED query path over predicate survivors
                    rkw["where"] = args.where
                    if args.meta:
                        rkw["meta"] = spark.read.parquet(args.meta)
                        rkw["meta_key"] = args.meta_key
                summary.update(
                    recall_ppm=ann_recall_probe(
                        spark, store, args.table, k=args.k,
                        seed=args.seed, version=args.version, **rkw
                    )
                )
        elif args.action == "compact":
            # kind-agnostic storage maintenance (r13): bin-pack the
            # head snapshot, optionally vacuum — advisor readings
            # before/after ride the summary so schedulers can verify
            # the churn was actually reclaimed
            from clickhouse_k_means_spark.operators.ann_index import (
                ann_compact_due,
            )

            due = ann_compact_due(store, args.table,
                                  max_versions=args.max_versions,
                                  dead_ratio=args.dead_ratio)
            v = store.optimize(spark, args.table)
            removed = store.vacuum(args.table) if args.vacuum else 0
            summary.update(
                version=int(v), was_due=bool(due),
                files_vacuumed=int(removed),
                vacuumed=bool(args.vacuum),
                still_due=bool(
                    ann_compact_due(store, args.table,
                                    max_versions=args.max_versions,
                                    dead_ratio=args.dead_ratio)
                ),
                storage=store.storage_stats(args.table),
            )
        elif args.action == "delete":
            # kind-agnostic: ann_delete works uniformly over the
            # family's n-IS-NOT-NULL vector-row convention
            from clickhouse_k_means_spark.operators.ann_index import (
                ann_delete,
            )

            before = store.latest_version(args.table)
            if args.where:
                # predicate takedown (r14): --where over the index's
                # own columns, or over --meta with --meta-key joining
                meta = spark.read.parquet(args.meta) if args.meta else None
                v = ann_delete(
                    spark, store=store, table=args.table, key=args.key,
                    where=args.where, meta=meta, meta_key=args.meta_key,
                )
            else:
                if args.keys:
                    keys = [int(k) for k in args.keys.split(",") if k.strip()]
                else:
                    keys = spark.read.parquet(args.input)
                v = ann_delete(spark, keys, store, table=args.table,
                               key=args.key)
            summary.update(version=int(v), deleted_any=bool(v != before))
        else:  # query
            q = spark.read.parquet(args.input)
            meta = spark.read.parquet(args.meta) if args.meta else None
            fkw = {"where": args.where, "meta": meta,
                   "meta_key": args.meta_key} if args.where else {}
            if args.kind == "ivfpq":
                res = ivfpq_query(q, store, table=args.table, k=args.k,
                                  nprobe=args.nprobe, rerank=args.rerank,
                                  query_key=args.key, vec=args.vec,
                                  version=args.version, **fkw)
            elif args.kind == "pq":
                res = pq_query(q, store, table=args.table, k=args.k,
                               rerank=args.rerank, query_key=args.key,
                               vec=args.vec, version=args.version, **fkw)
            else:
                res = ivf_query(q, store, table=args.table, k=args.k,
                                nprobe=args.nprobe, query_key=args.key,
                                vec=args.vec, version=args.version, **fkw)
            res.write.mode("overwrite").parquet(args.out)
            summary.update(out=args.out,
                           rows_out=spark.read.parquet(args.out).count())
        print(json.dumps(summary))
        return 0
    df = spark.read.parquet(args.input)
    n_in = df.count()
    extra: dict = {}

    if args.cmd == "dedup":
        if args.mode == "exact":
            from clickhouse_k_means_spark.operators.dedup import exact_dedup

            tagged = exact_dedup(df, text=args.text, key=args.key)
            keep = tagged.filter(F.col("keep") == 1).select(args.key)
            out = df.join(keep, args.key, "left_semi")
        elif args.mode == "span":
            from clickhouse_k_means_spark.operators.dedup import span_dedup

            # span mode REWRITES text (duplicate spans removed), so the
            # output carries the deduped text instead of a row filter
            out = span_dedup(
                df, text=args.text, key=args.key,
                span_tokens=args.span_tokens,
            )
        elif args.mode == "cdc":
            from clickhouse_k_means_spark.operators.dedup import cdc_dedup

            # any-alignment substring removal; rewrites text like span
            out = cdc_dedup(
                df, text=args.text, key=args.key, divisor=args.divisor
            )
        elif args.mode == "semantic":
            from clickhouse_k_means_spark.operators.semdedup import (
                semantic_dedup,
            )

            tagged = semantic_dedup(
                df, k=args.k, threshold=args.threshold,
                key=args.key, vec=args.vec, seed=args.seed,
            )
            keep = tagged.filter(F.col("keep") == 1).select(args.key)
            out = df.join(keep, args.key, "left_semi")
        else:
            from clickhouse_k_means_spark.operators.dedup import near_dedup_corpus

            thr = None if args.threshold < 0 else args.threshold
            out = near_dedup_corpus(
                df, text=args.text, key=args.key, jaccard_threshold=thr
            )
    elif args.cmd == "split":
        from clickhouse_k_means_spark.operators.packing import hash_split

        weights = {}
        for part in args.weights.split(","):
            name, frac = part.split("=")
            weights[name.strip()] = float(frac)
        out = hash_split(df, key=args.key, weights=weights, salt=args.salt)
    elif args.cmd == "score":
        from clickhouse_k_means_spark.functions.text import (
            lang_id,
            quality_score,
            token_count,
        )
        from clickhouse_k_means_spark.operators.textstats import unigram_lm_scores

        lm = unigram_lm_scores(df, key=args.key, text=args.text)
        out = df.select(
            args.key,
            token_count(args.text).alias("n_tok"),
            quality_score(args.text).alias("quality"),
            lang_id(args.text).alias("lang"),
        ).join(lm.select(args.key, "nll_micro"), args.key)
    elif args.cmd == "sample":
        from clickhouse_k_means_spark.functions.text import token_count
        from clickhouse_k_means_spark.operators.sampling import weighted_sample

        if args.weight:
            src, weight = df, args.weight
        else:
            src = df.withColumn(
                "__w", (token_count(args.text) + 1).cast("bigint")
            )
            weight = "__w"
        out = weighted_sample(
            src, args.n, weight=weight, key=args.key, salt=args.salt
        )
        if not args.weight:
            out = out.drop("__w")
    elif args.cmd == "pack":
        from clickhouse_k_means_spark.operators.packing import pack_sequences

        out = pack_sequences(
            df, tokens=args.tokens, key=args.key, budget=args.budget
        )
    elif args.cmd == "chunk":
        from clickhouse_k_means_spark.operators.chunking import chunk_documents

        out = chunk_documents(
            df,
            budget=args.budget,
            overlap=args.overlap,
            key=args.key,
            text=args.text,
        )
    elif args.cmd == "cluster":
        feats = [c.strip() for c in args.features.split(",")]
        if args.algo == "dbscan":
            from clickhouse_k_means_spark.operators.density import grid_dbscan

            out = grid_dbscan(
                df, args.key, feats, eps=args.eps, min_pts=args.min_pts
            )
        else:
            from clickhouse_k_means_spark.plans.kmeans import (
                KMeansEngine,
                bisecting_fit,
            )
            from clickhouse_k_means_spark.sources.dataset import from_table

            yh = from_table(df, args.key, feats)
            if args.algo == "bisecting":
                assigned, _model = bisecting_fit(yh, k=args.k, seed=args.seed)
            else:
                eng = KMeansEngine(k=args.k, seed=args.seed)
                assigned = eng.assign(yh, eng.fit(yh).model)
            out = assigned.withColumnRenamed("i", args.key)
    elif args.cmd == "ingest":
        from clickhouse_k_means_spark.operators import dedup, similarity
        from clickhouse_k_means_spark.sources.state import SnapshotStateStore

        store = SnapshotStateStore(args.state)
        # plan only: the history commits below, after the survivors are
        # written, so a failed or killed write leaves it untouched and a
        # retry overwrites --out with the same rows
        if args.mode == "exact":
            table = "seen_hashes"
            out, rows, committed = dedup._exact_plan(
                df, store, table, args.text, args.key, True
            )
        elif args.mode == "near":
            table = "seen_bands"
            thr = None if args.threshold < 0 else args.threshold
            out, rows, committed = dedup._near_plan(
                df, store, table, args.text, args.key, jaccard_threshold=thr
            )
        elif args.mode == "span":
            table = "seen_spans"
            out, rows, committed = dedup._chunk_plan(
                df, store, table, args.text, args.key, dedup._span_keep_first,
                args.span_tokens, "n_spans", True,
            )
        elif args.mode == "cdc":
            table = "seen_chunks"
            out, rows, committed = dedup._chunk_plan(
                df, store, table, args.text, args.key, dedup._cdc_keep_first,
                args.divisor, "n_chunks", True,
            )
        else:
            table = "seen_embed"
            out, rows, committed = similarity._embed_plan(
                df, store, table, args.key, args.vec, args.threshold
            )
        extra["committed"] = int(committed)
        extra["state"] = args.state
    elif args.cmd == "profile":
        from clickhouse_k_means_spark.operators.profile import profile_table

        cols = (
            [c.strip() for c in args.columns.split(",")] if args.columns else None
        )
        out = profile_table(df, cols)
    else:  # pragma: no cover - argparse enforces choices
        return 2

    out.write.mode("overwrite").parquet(args.out)
    if args.cmd == "ingest":
        dedup._commit_history(store, table, rows, committed)
    n_out = spark.read.parquet(args.out).count()
    print(json.dumps({"cmd": args.cmd, "rows_in": n_in, "rows_out": n_out,
                      "out": args.out, **extra}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
