"""Deduplication family for the LLM-data-pipeline surface.

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup over a documents
table — all pure Column expressions (md5-derived hashes, higher-order
array functions), no Python UDFs, so a 100 TB dedup run is a codegen'd
scan + one hash-shuffle per self-join.

Scale design:
- Exact dedup: groupBy(hash) — one shuffle keyed by a 128-bit digest;
  skew-free by construction (hashes are uniform).
- MinHash-LSH: signatures are computed in a single narrow pass; the
  candidate-pair join shuffles on (band_idx, band_key) — bucket sizes
  are the classic LSH knob (n_bands × rows_per_band trades recall vs
  bucket size). Only same-bucket pairs are ever materialized, never the
  O(n²) cross join.
- SimHash: one 64-bit value per doc; near-dup = hamming ≤ t. The pair
  search again goes through LSH-style banding of the packed bits.
- The reference has no dedup operators; this extends its distance/
  top-k/aggregation core (SURVEY §7.8) to the pretraining-data use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_k_means_spark.functions.hashing import md5_hex
from clickhouse_k_means_spark.functions.text import shingles_from_tokens, tokens


def exact_dedup(
    df: DataFrame, text: str = "text", key: str = "doc_id"
) -> DataFrame:
    """Tag each row with its content hash and a keep-first flag.

    keep=1 for the lowest ``key`` per distinct md5(text) — the exact
    (hash-groupBy) dedup policy. One shuffle on the digest.
    """
    w = Window.partitionBy("text_hash").orderBy(F.col(key).asc())
    return (
        df.select(F.col(key), md5_hex(text).alias("text_hash"))
        .withColumn(
            "keep", F.when(F.row_number().over(w) == 1, F.lit(1)).otherwise(F.lit(0))
        )
    )


def minhash_signatures(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(key, s0..s{n-1}) MinHash signature columns over word shingles.

    One narrow pass: shingle → n_hashes seeded 60-bit min-hashes
    (functions/hashing.py), each signature element its own BIGINT
    column so downstream banding/joins stay columnar.
    """
    from clickhouse_k_means_spark.functions.hashing import minhash_expr

    # stage tokens as their own projection so the shingle lambda
    # slices a bound array instead of re-deriving the tokenization per
    # element on the interpreted HOF path (r5; see shingles_from_tokens)
    staged = _spread(df).select(F.col(key), tokens(text).alias("__tok"))
    sig = minhash_expr(
        shingles_from_tokens(F.col("__tok"), n=shingle_n), n_hashes=n_hashes
    )
    mh = staged.select(F.col(key), sig.alias("mh"))
    return mh.select(
        F.col(key), *[F.col("mh")[i].alias(f"s{i}") for i in range(n_hashes)]
    )


def band_table(
    sigs: DataFrame, key: str = "doc_id", n_hashes: int = 8, n_bands: int = 4
) -> DataFrame:
    """Long-form LSH band relation (key, band_idx, band_key) from
    signature columns. Bands are contiguous signature slices; band key
    = md5 of the comma-joined values. This table IS the persistable
    LSH index — ``lsh_candidate_pairs`` self-joins it, the incremental
    path commits it as the dedup history."""
    if n_bands <= 0 or n_hashes % n_bands != 0:
        # a silent remainder would drop trailing signature columns;
        # n_bands > n_hashes would give every doc an empty band key
        # (one global bucket -> O(n^2) candidate blow-up)
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of "
            f"n_bands ({n_bands})"
        )
    rows_per_band = n_hashes // n_bands
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(key), F.posexplode(bands).alias("band_idx", "band_key"))


def lsh_candidate_pairs(
    sigs: DataFrame, key: str = "doc_id", n_hashes: int = 8, n_bands: int = 4
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    The self-join shuffles on (band, band_key) only — same-bucket
    pairs, not all pairs. Output is distinct (a, b), materialized
    eagerly (localCheckpoint) so the band cache can be released before
    returning — no storage leak across repeated calls.
    """
    # one long-form (key, band_idx, band_key) relation + ONE self-join
    # on (band_idx, band_key): the signature computation runs once per
    # side instead of once per band per side, and the cache below makes
    # it once total (at cluster scale this is the materialized
    # bucket table every LSH pipeline persists).
    banded = band_table(sigs, key=key, n_hashes=n_hashes, n_bands=n_bands).cache()
    left = banded.select(
        F.col(key).alias("a"), "band_idx", "band_key"
    )
    right = banded.select(
        F.col(key).alias("b"), "band_idx", "band_key"
    )
    try:
        # eager checkpoint: runs the join while the band cache is hot,
        # and the returned plan reads the (small) checkpointed pair set
        # — so unpersisting the cache below never forces a recompute
        return (
            left.join(right, ["band_idx", "band_key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        banded.unpersist(blocking=True)


def simhash_table(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """(key, simhash) via explode + groupBy — the codegen scale path.

    Spark's higher-order-function lambdas run interpreted per element;
    exploding tokens into rows keeps md5 + bit-counting inside
    whole-stage codegen with map-side partial aggregation (measured
    ~8× faster than the fused ``simhash_doc`` fold). The shuffle
    carries one 31-column partial row per (key, partition) — tiny.
    Zero-token documents get simhash 0.
    """
    from clickhouse_k_means_spark.functions.text import tokens

    spread = _spread(df)
    ex = spread.select(F.col(key), F.explode(tokens(text)).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    one = F.lit(1).cast("bigint")
    n = min(bits, 60)
    # two 30-bit set-counters per BIGINT aggregate column: the agg
    # buffer is 31 columns instead of 61, halving the generated
    # partial/final-agg method size (codegen/JIT pressure was the r2
    # full-sequence bench outlier). No carry across the pair until a
    # single document exceeds 2^30 tokens — not a real document.
    width = 30
    pair_sums = []
    for k in range((n + 1) // 2):
        lo = F.shiftright(h, 2 * k).bitwiseAND(one)
        term = lo
        if 2 * k + 1 < n:
            hi = F.shiftright(h, 2 * k + 1).bitwiseAND(one)
            term = lo + hi * F.lit(1 << width).cast("bigint")
        pair_sums.append(F.sum(term).alias(f"p{k}"))
    counts = ex.groupBy(key).agg(F.count(F.lit(1)).alias("n"), *pair_sums)
    mask = F.lit((1 << width) - 1).cast("bigint")
    pack = None
    for b in range(n):
        k, hi = b // 2, b % 2
        cnt = F.shiftright(F.col(f"p{k}"), hi * width).bitwiseAND(mask)
        term = F.when(
            cnt * 2 > F.col("n"), F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        pack = term if pack is None else pack + term
    packed = counts.select(F.col(key), pack.alias("simhash"))
    return (
        df.select(key)
        .join(packed, key, "left")
        .select(F.col(key), F.coalesce("simhash", F.lit(0).cast("bigint")).alias("simhash"))
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow-source DataFrame up to cluster parallelism.

    Single-file fixtures read as one task (one parquet row group =
    one split); compute-heavy per-row operators would then run on one
    core. A round-robin repartition costs one small shuffle and buys
    full parallelism — on a real multi-file table this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs (a, b).

    Joins the distinct shingle sets in twice (broadcast if small),
    ``|A ∩ B| / |A ∪ B|`` via array_intersect/array_union sizes.
    """
    sets_df = df.select(F.col(key), tokens(text).alias("__tok")).select(
        F.col(key),
        F.array_distinct(
            shingles_from_tokens(F.col("__tok"), n=shingle_n)
        ).alias("sh"),
    )
    a = sets_df.select(F.col(key).alias("a"), F.col("sh").alias("sh_a"))
    b = sets_df.select(F.col(key).alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .select(
            "a",
            "b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def near_dedup_corpus(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float | None = 0.8,
) -> DataFrame:
    """The full near-duplicate removal pipeline in one call: MinHash
    signatures → LSH candidate pairs → EXACT n-gram-Jaccard
    verification on candidates only → connected components → drop
    every non-canonical member. Returns the surviving corpus (all
    original columns).

    This is the production composition of the dedup family: LSH keeps
    the pair search sub-quadratic (same-bucket pairs only), the exact
    Jaccard check removes LSH false positives before they glue
    unrelated documents into one component (``jaccard_threshold=None``
    skips it — banding-only dedup), and hash-min components make
    near-duplication transitive (A≈B≈C collapses to one survivor even
    if A and C never shared a bucket). Canonical = lowest key per
    component — deterministic, replayed exactly by the DuckDB oracle's
    recursive transitive closure.

    Scale shape: everything before the component loop is the
    already-guarded operators' plans (narrow signature pass, one
    (band, band_key) shuffle, candidate-only Jaccard join); the
    component iteration runs on the PAIR set (≪ corpus); the final
    drop is one anti-join on the key.
    """
    from clickhouse_k_means_spark.operators.components import dedup_components

    sigs = minhash_signatures(
        df, text=text, key=key, n_hashes=n_hashes, shingle_n=shingle_n
    )
    cand = lsh_candidate_pairs(sigs, key=key, n_hashes=n_hashes, n_bands=n_bands)
    if jaccard_threshold is not None:
        cand = (
            jaccard_pairs(df, cand, text=text, key=key, shingle_n=shingle_n)
            .filter(F.col("jaccard") >= float(jaccard_threshold))
            .select("a", "b")
        )
    comp = dedup_components(cand)
    drop = comp.filter(F.col("is_canonical") == False).select(  # noqa: E712
        F.col("n").alias(key)
    )
    return df.join(drop, key, "left_anti")


def _history_matches(
    batch: DataFrame, store, table: str, cols: dict, broadcast_batch: bool
) -> DataFrame | None:
    """Rows of ``batch`` whose ``cols`` (a batch → history column name
    map) appear in the committed ``table``; None if it does not exist.
    The incremental verbs' one history probe.

    ``broadcast_batch=True`` (the ingest default) joins one scan of
    history to the BROADCAST batch: the corpus-sized history is read
    once and NEVER shuffled. A row comes back per history row it hits,
    i.e. once (verbs commit only values absent from history); callers
    use the result as a filter. ``False`` is a shuffled semi-join, for
    corpus-sized backfill batches that would not fit a broadcast.
    """
    if not store.exists(table):
        return None
    hist = store.read(batch.sparkSession, table).select(
        *[F.col(h).alias(b) for b, h in cols.items()]
    )
    if broadcast_batch:
        return hist.join(F.broadcast(batch), list(cols)).select(batch.columns)
    return batch.join(hist, list(cols), "left_semi")


def _drop_matches(
    df: DataFrame, hits: DataFrame | None, on, broadcast_batch: bool
) -> DataFrame:
    """``df`` without the rows whose ``on`` values appear in ``hits`` (a
    ``_history_matches`` result, at most batch-sized, so the ingest
    default broadcasts it too); ``hits=None`` drops nothing."""
    if hits is None:
        return df
    hits = hits.select(on)
    return df.join(F.broadcast(hits) if broadcast_batch else hits, on, "left_anti")


def _commit_history(store, table: str, rows: DataFrame, n: int) -> int:
    """Append a plan's new history ``rows`` to ``table`` as one commit,
    none when its count ``n`` is 0; returns ``n``. A caller that writes
    the survivors runs it only after that write, so a failed or killed
    write leaves the history at its prior version."""
    if n:
        store.append(rows, table)
    return n


def _exact_plan(new_docs, store, table, text, key, broadcast_batch):
    """``incremental_exact_dedup`` up to its commit: ``(survivors,
    new hash rows, their count)``, every frame over checkpoints."""
    batch_keep = (
        exact_dedup(new_docs, text=text, key=key)
        .filter(F.col("keep") == 1)
        .select(key, "text_hash")
        .localCheckpoint(eager=True)
    )
    hits = _history_matches(batch_keep, store, table,
                            {"text_hash": "text_hash"}, broadcast_batch)
    fresh = _drop_matches(batch_keep, hits, "text_hash", broadcast_batch)
    fresh = fresh.localCheckpoint(eager=True)
    rows = fresh.select("text_hash")
    return new_docs.join(fresh.select(key), key), rows, rows.count()


def incremental_exact_dedup(
    new_docs: DataFrame,
    store,
    table: str = "seen_hashes",
    text: str = "text",
    key: str = "doc_id",
    broadcast_batch: bool = True,
):
    """Dedup an arriving batch against ALL previously-committed content
    — the production ingest shape (the batch ``exact_dedup`` only sees
    its own rows).

    Protocol: (1) dedup the batch internally (keep-first by key), (2)
    drop batch survivors found in the (snapshot-isolated) history
    (``_history_matches``), (3) append the NEW survivors' hashes as the
    next commit (``_commit_history``). Steps 1-2 are ``_exact_plan``,
    whose survivors read only checkpoints, so the commit cannot change
    them. This verb commits at once; callers that write the survivors
    (the ingest CLI, ``StreamingDedup``) run the plan, write, and only
    then commit, so a failed write leaves history untouched. Returns
    (survivors_df, n_committed).

    Scale shape: with ``broadcast_batch=True`` (default — batches are
    small relative to history in any ingest loop) the history is
    scanned once behind the broadcast batch and never shuffled; set
    it False only for corpus-sized backfill batches, which fall back
    to a shuffle semi-join keyed on the digest (skew-free — md5 is
    uniform). Either way history is never rewritten — only the batch's
    new hashes are appended. The batch plan (hash + keep-first) and
    the fresh rows are each ``localCheckpoint``-ed so the batch runs
    ONCE — the broadcast build, the count, the history append, and the
    survivors join all read materialized results instead of
    re-scanning the batch.

    Concurrency contract: SINGLE WRITER PER TABLE. The snapshot store's
    optimistic commits prevent torn manifests, but two ingests that
    probe the same snapshot can both keep the same content and both
    commit its hash (a lost update above the storage layer).
    Serialize ingests per hash table — the standard exactly-once
    ingest discipline; cross-table writers need no coordination.
    """
    survivors, rows, n = _exact_plan(new_docs, store, table, text, key,
                                     broadcast_batch)
    return survivors, _commit_history(store, table, rows, n)


def _near_plan(
    new_docs, store, table, text, key, n_hashes=8, n_bands=4, shingle_n=3,
    jaccard_threshold=0.8, broadcast_batch=True,
):
    """``incremental_near_dedup`` up to its commit: ``(survivors, new
    band rows, their count)``, every frame over checkpoints."""
    within = near_dedup_corpus(
        new_docs, text, key, n_hashes, n_bands, shingle_n, jaccard_threshold
    ).localCheckpoint(eager=True)
    sigs = minhash_signatures(
        within, text=text, key=key, n_hashes=n_hashes, shingle_n=shingle_n
    )
    bt = (
        band_table(sigs, key=key, n_hashes=n_hashes, n_bands=n_bands)
        .localCheckpoint(eager=True)
    )
    bands = {"band_idx": "band_idx", "band_key": "band_key"}
    hits = _history_matches(bt, store, table, bands, broadcast_batch)
    survivors = within
    if hits is not None:
        survivors = _drop_matches(within, hits, key, broadcast_batch)
        survivors = survivors.localCheckpoint(eager=True)
    rows = bt.join(survivors.select(key), key).select("band_idx", "band_key")
    rows = rows.distinct()
    return survivors, rows, rows.count()


def incremental_near_dedup(
    new_docs: DataFrame,
    store,
    table: str = "seen_bands",
    text: str = "text",
    key: str = "doc_id",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float | None = 0.8,
    broadcast_batch: bool = True,
):
    """Near-dedup an arriving batch against ALL previously-ingested
    content using only the persisted LSH BAND table — the ingest-loop
    form of ``near_dedup_corpus``. Returns (survivors_df, n_band_rows_committed).

    Protocol (steps 1-2 are ``_near_plan``, 3 is ``_commit_history``;
    commit order as in ``incremental_exact_dedup``):
    1. WITHIN-batch near-dedup via the full pipeline (banding → exact
       Jaccard verify → connected components) — texts are present, so
       LSH false positives are filtered before they cost a document.
    2. Batch survivors' bands vs HISTORY (``_history_matches``): any
       survivor sharing one (band_idx, band_key) with a committed band
       is dropped. History stores band keys only — no text, no
       signatures — so this layer is banding-only: its false-positive
       rate is the standard (bands, rows-per-band) S-curve knob, and
       the trade is storage (n_bands md5s/doc forever) vs
       re-verification (which would need the full text history). Same
       decision DuckDB/BigQuery streaming-dedup designs make;
       documented, replayed exactly by the gate oracle.
    3. Surviving docs' DISTINCT band rows become the next commit.

    Transitivity across the two layers: a batch doc B dropped in step
    1 in favor of canonical A stays dropped even when A then collides
    with history in step 2 (B ≈ A ≈ history ⇒ B is a transitive dup).

    Scale shape mirrors ``incremental_exact_dedup``: the batch
    pipeline is localCheckpoint-ed so it runs once; with
    ``broadcast_batch=True`` the history band table is scanned once
    behind the broadcast batch bands and NEVER shuffled (set False for
    corpus-sized backfills → shuffle semi-join keyed on the uniform
    md5 band key). History is append-only. Concurrency contract:
    SINGLE WRITER PER TABLE (same lost-update argument as the exact
    path).
    """
    survivors, rows, n = _near_plan(
        new_docs, store, table, text, key, n_hashes, n_bands, shingle_n,
        jaccard_threshold, broadcast_batch,
    )
    return survivors, _commit_history(store, table, rows, n)


def span_dedup(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    span_tokens: int = 10,
) -> DataFrame:
    """Sub-document EXACT dedup: remove repeated token spans corpus-
    wide, first occurrence wins (the C4/RefinedWeb "line dedup" move,
    and the bounded-memory relational stand-in for Lee et al. 2022's
    suffix-array ExactSubstr — honest difference: suffix arrays catch
    duplicates at ANY alignment, span tiling only at fixed
    ``span_tokens`` boundaries).

    Documents are tiled into consecutive ``span_tokens``-token spans
    (tiling, because the span boundary is a parameter, not prose
    structure — the synthetic corpus has no newlines; real corpora
    would pre-split on a delimiter and feed one span per row through
    the same keep-first core). A span instance survives iff it is the
    globally FIRST occurrence of its text, ordered by
    ``(key, span_id)`` — later repeats inside the SAME document are
    removed too, matching the published line-dedup semantics.

    Returns one row per input document:
    ``(key, n_spans, n_kept, dedup_text)`` with ``dedup_text`` the
    kept spans re-joined in order (empty string when every span was
    seen earlier).

    Scale shape: one explode (linear), ONE shuffle keyed by the span
    digest for the keep-first window (128-bit md5 keys — uniform, so
    the canonical hot-key skew of natural-language spans — empty
    lines, boilerplate headers — never concentrates on one reducer),
    one groupBy(key) to reassemble. No self-join, no O(n²) pair
    materialization; state is the span-hash domain, the same budget
    exact_dedup already carries at corpus scale.
    """
    flagged = _span_keep_first(df, text, key, span_tokens)
    return _span_reassemble(df, flagged, key)


def cdc_dedup(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    divisor: int = 8,
) -> DataFrame:
    """ANY-ALIGNMENT substring dedup via content-defined chunking —
    closes the gap ``span_dedup`` documents (VERDICT r8 item 3): fixed
    tiling only catches duplicates landing on ``span_tokens``
    boundaries, while Lee et al. 2022's suffix-array ExactSubstr
    catches every alignment. CDC (the rsync / LBFS design,
    Muthitacharoen et al. 2001) gets alignment-independence
    relationally: chunk boundaries are decided by TOKEN CONTENT, not
    position — token ``t`` ends a chunk iff
    ``int(md5(t)[:4], 16) % divisor == 0`` — so two copies of a
    duplicated token run produce IDENTICAL interior chunks wherever
    the run sits in each document. No suffix array, no self-join, no
    position arithmetic shared between documents.

    Guarantee (exact, not probabilistic, GIVEN the breakpoints): a
    duplicated run containing b >= 2 breakpoint tokens has b-1
    identical interior chunks in every copy; all but the globally
    first occurrence are removed. Expected chunk length is
    ``divisor`` tokens (geometric), so runs of roughly
    ``2 * divisor`` tokens or longer are caught at ANY alignment —
    the knob mirrors ExactSubstr's 50-token threshold. What it does
    NOT catch: the partial chunks at the run's edges (they extend
    into non-duplicated context), and duplicated runs with < 2
    breakpoints (probability decays geometrically in run length).
    A document with no breakpoint tokens degrades to one whole-doc
    chunk — exact_dedup semantics, never wrong rows.

    Keep-first: the globally FIRST instance of each distinct chunk
    text, ordered by ``(key, chunk_id)``, survives — same rule as
    ``span_dedup``. Scale shape: chunking is map-only (one HOF pass
    inside each row — no per-token explode, no shuffle); keep-first is
    a groupBy(chunk_hash).min(struct(key, chunk_id)) + join-back —
    deliberately NOT a row_number window: a hot boilerplate chunk
    ("the the the", a license header) sends every instance to ONE
    window reducer, while partial aggregation collapses hot keys
    map-side and AQE skew-join splits the join-back probe. One
    aggregation shuffle + one join shuffle, both keyed by the uniform
    128-bit digest.

    Returns one row per input document:
    ``(key, n_chunks, n_kept, dedup_text)`` — the ``span_dedup``
    contract with chunks in place of tiles.
    """
    flagged = _cdc_keep_first(df, text, key, divisor)
    out = _span_reassemble(df, flagged, key)
    return out.select(
        key,
        F.col("n_spans").alias("n_chunks"),
        "n_kept",
        "dedup_text",
    )


def _cdc_chunk_table(
    df: DataFrame, text: str, key: str, divisor: int
) -> DataFrame:
    """``(key, span_id, span, span_hash)`` content-defined chunk rows
    (span_* column names so the span reassembly core is shared).

    All chunk construction happens INSIDE the row with HOFs: breakpoint
    positions -> [start, end] pairs -> chunk texts. Zero shuffles, no
    per-token explode (the token blowup a stride-1 sliding window
    would pay is the cost this design avoids)."""
    if divisor < 1:
        raise ValueError(f"divisor must be >= 1, got {divisor}")
    base = df.select(F.col(key), tokens(text).alias("tk"))
    is_bp = (
        lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10)
        .cast("int") % divisor == 0
    )
    # 1-based positions of breakpoint tokens; a chunk ENDS at (and
    # includes) its breakpoint token. sequence(1, 0) DESCENDS in
    # Spark, so the empty-token case needs the explicit guard.
    positions = F.when(
        F.size("tk") >= 1, F.sequence(F.lit(1), F.size("tk"))
    ).otherwise(F.array().cast("array<int>"))
    cuts = F.filter(
        positions, lambda p: is_bp(F.element_at("tk", p))
    )
    with_bounds = base.withColumn(
        "starts",
        F.concat(
            F.array(F.lit(1)),
            F.transform(cuts, lambda c: c + 1),
        ),
    ).withColumn("ends", F.concat(cuts, F.array(F.size("tk"))))
    chunks = with_bounds.select(
        key,
        F.posexplode(
            F.filter(
                F.zip_with(
                    "starts",
                    "ends",
                    lambda s, e: F.when(
                        e >= s,
                        F.array_join(
                            F.slice(
                                "tk", s, e - s + F.lit(1)
                            ),
                            " ",
                        ),
                    ),
                ),
                lambda c: c.isNotNull(),
            )
        ).alias("span_id", "span"),
    )
    return chunks.select(
        key, "span_id", "span", md5_hex("span").alias("span_hash")
    )


def _cdc_keep_first(
    df: DataFrame, text: str, key: str, divisor: int
) -> DataFrame:
    """Chunk table plus the keep-first flag via min-struct aggregation
    + join-back (the skew-proof form — see ``cdc_dedup``)."""
    ct = _cdc_chunk_table(df, text, key, divisor)
    winners = ct.groupBy("span_hash").agg(
        F.min(F.struct(F.col(key).alias("k"), F.col("span_id").alias("s")))
        .alias("w")
    )
    return ct.join(winners, "span_hash").select(
        key,
        "span_id",
        "span",
        "span_hash",
        (
            (F.col(key) == F.col("w.k")) & (F.col("span_id") == F.col("w.s"))
        ).cast("int").alias("first"),
    )


def _span_table(
    df: DataFrame, text: str, key: str, span_tokens: int
) -> DataFrame:
    """``(key, span_id, span, span_hash)`` — the fixed-width token
    tiling shared by the batch and incremental span-dedup forms."""
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    base = df.select(F.col(key), tokens(text).alias("tk"))
    # exact integer span count: ceil(size/span_tokens), never float
    n_spans_expr = F.expr(
        f"greatest(cast((size(tk) + {span_tokens - 1}) div {span_tokens} "
        "as int) - 1, 0)"
    )
    spans = base.select(
        key,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans_expr),
                lambda b: F.array_join(
                    F.slice("tk", b * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("span_id", "span"),
    ).filter(F.col("span") != "")
    return spans.select(
        key, "span_id", "span", md5_hex("span").alias("span_hash")
    )


def _span_keep_first(
    df: DataFrame, text: str, key: str, span_tokens: int
) -> DataFrame:
    """Span table plus the within-input keep-first flag (one shuffle
    keyed by the uniform span digest)."""
    w = Window.partitionBy("span_hash").orderBy(key, "span_id")
    return _span_table(df, text, key, span_tokens).withColumn(
        "first", (F.row_number().over(w) == 1).cast("int")
    )


def _span_reassemble(
    df: DataFrame, flagged: DataFrame, key: str
) -> DataFrame:
    """Per-document ``(key, n_spans, n_kept, dedup_text)`` from a
    flagged span table; documents with no surviving (or no) spans come
    back with 0/0 and an empty string."""
    per_doc = flagged.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("first").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("first") == 1,
                            F.struct("span_id", "span"),
                        )
                    )
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return (
        df.select(key)
        .join(per_doc, key, "left")
        .select(
            key,
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )


def _chunk_plan(
    new_docs, store, table, text, key, keep_first, size, n_col,
    broadcast_batch,
):
    """The span and CDC verbs up to their commit: ``(per_doc_df, new
    hash rows, their count)``. ``keep_first`` is ``_span_keep_first``
    or ``_cdc_keep_first`` (with its ``size`` knob) and ``n_col`` the
    output's span-count column."""
    # the flagged table feeds the history probe AND the reassembly —
    # materialize once (the unigram_lm/tf lesson)
    flagged = keep_first(new_docs, text, key, size).localCheckpoint(eager=True)
    keepers = flagged.filter(F.col("first") == 1)
    hits = _history_matches(keepers, store, table,
                            {"span_hash": "text_hash"}, broadcast_batch)
    fresh = _drop_matches(keepers, hits, "span_hash", broadcast_batch)
    fresh = fresh.localCheckpoint(eager=True)
    # survivors after BOTH layers: the within-batch keep-first flag is
    # re-derived so history drops demote a batch keeper to first=0
    kept = fresh.select(key, "span_id").withColumn("first", F.lit(1))
    final = flagged.drop("first").join(kept, [key, "span_id"], "left")
    final = final.fillna(0, subset=["first"])
    rows = fresh.select(F.col("span_hash").alias("text_hash")).distinct()
    out = _span_reassemble(new_docs, final, key)
    return out.withColumnRenamed("n_spans", n_col), rows, rows.count()


def incremental_span_dedup(
    new_docs: DataFrame,
    store,
    table: str = "seen_spans",
    text: str = "text",
    key: str = "doc_id",
    span_tokens: int = 10,
    broadcast_batch: bool = True,
):
    """Span-dedup an arriving batch against ALL previously-committed
    spans — the rolling-ingest form of ``span_dedup``, completing the
    incremental family (exact, near, span).

    Protocol: (1) within-batch keep-first over the batch's span table,
    (2) drop batch keepers whose span hash exists in the persisted
    history (``_history_matches`` — with the default
    ``broadcast_batch=True`` the batch's keepers broadcast into one
    scan of history, so a 100 TB span history is read once and NEVER
    shuffled), (3) reassemble each document from its surviving spans,
    (4) append the survivors' distinct hashes as the next commit.
    Steps 1-3 are ``_chunk_plan``, step 4 ``_commit_history`` (see
    ``incremental_exact_dedup`` for the commit order). Returns
    ``(per_doc_df, n_committed)`` with the same
    ``(key, n_spans, n_kept, dedup_text)`` contract as ``span_dedup``.

    Same single-writer-per-table concurrency contract as
    ``incremental_exact_dedup``.
    """
    out, rows, n = _chunk_plan(
        new_docs, store, table, text, key, _span_keep_first, span_tokens,
        "n_spans", broadcast_batch,
    )
    return out, _commit_history(store, table, rows, n)


def incremental_cdc_dedup(
    new_docs: DataFrame,
    store,
    table: str = "seen_chunks",
    text: str = "text",
    key: str = "doc_id",
    divisor: int = 8,
    broadcast_batch: bool = True,
):
    """ANY-ALIGNMENT substring dedup for an arriving batch against ALL
    previously-committed chunk history — the rolling-ingest form of
    ``cdc_dedup``, completing the incremental family (exact, near,
    span, embed, cdc). Content-defined boundaries make the history
    probe alignment-independent: a batch document embedding an
    already-ingested passage at ANY offset produces the passage's
    identical interior chunks, which hit the committed hash set.

    Protocol is ``incremental_span_dedup``'s, on the same
    ``_chunk_plan`` body, over the batch's CDC chunk table and its
    skew-proof agg+join keep-first: the history is read once and NEVER
    shuffled by default, and the survivors' distinct hashes commit
    atomically. Returns ``(per_doc_df, n_committed)`` with the
    ``(key, n_chunks, n_kept, dedup_text)`` contract of ``cdc_dedup``.

    Same single-writer-per-table concurrency contract as the rest of
    the family.
    """
    out, rows, n = _chunk_plan(
        new_docs, store, table, text, key, _cdc_keep_first, divisor,
        "n_chunks", broadcast_batch,
    )
    return out, _commit_history(store, table, rows, n)
