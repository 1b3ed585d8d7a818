"""Streaming ingest into the persistent ANN indexes, on the engine's one
micro-batch protocol (``snapshot_sink.MicroBatchSink``):
``operators/ann_index.ivf_append`` (``StreamingIvfIngest``),
``pq_append`` (``StreamingPqIngest``), ``ivfpq_append``
(``StreamingIvfPqIngest`` — the composed production architecture),
``ann_upsert`` (``StreamingUpsertIngest``) or ``ann_cdc_apply``
(``StreamingCdcApply``) — the vector-corpus companion to
``dedup_stream`` (documents) and ``sketch_stream`` (aggregates).

The reference has no streaming surface; this composes two certified
pieces — the committed-quantizer append (every batch buckets through
the version-1 fit, no re-fit) and the snapshot store's manifest
commits — into the production shape: an embedding stream lands in the
queryable ANN index one atomic version per micro-batch, and the index
is queryable (and time-travelable) BETWEEN batches.

Exactly-once story, two cases of the one protocol:

- the appends are key-idempotent (they anti-join the batch against
  the committed keys), so a replayed micro-batch appends ZERO fresh
  rows and needs no marker; the replay still pays the (broadcast-semi,
  history-never-shuffled) probe, fine at micro-batch size;
- an upsert or CDC apply adds a version on every call, by design, so
  those sinks are marked: the ``(batch_query, batch_id)`` marker rides
  each commit atomically and a replayed batch of the same query name
  is skipped before it is read.

Bootstrap contract: the index (quantizer and/or codebooks) must exist
before the stream starts (run ``*_index`` on a seed corpus first); a
stream attached to a table without committed geometry fails loudly on
its first non-empty batch — never silent wrong cells. Maintenance
(``*_stats`` / ``*_refit``) runs between batches under the
single-writer-per-table contract; a refit mid-stream is safe because
Structured Streaming serializes micro-batches and every batch re-reads
the LATEST committed geometry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from clickhouse_k_means_spark.streaming.snapshot_sink import MicroBatchSink


class StreamingIvfIngest(MicroBatchSink):
    """Driver-held counters + per-batch committed-quantizer appends."""

    _DEFAULT_QUERY_NAME = "streaming_ivf_ingest"
    _APPEND = "ivf_append"
    count_rows = True

    def __init__(
        self,
        store,
        table: str = "ivf_index",
        key: str = "vec_id",
        vec: str = "embedding",
    ):
        self.store = store
        self.table = table
        self.key = key
        self.vec = vec
        self.query_name = self._DEFAULT_QUERY_NAME
        self.n_batches = 0
        self.n_seen = 0
        self.n_skipped = 0
        self.versions: list[int] = []

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        """Append one micro-batch through the committed geometry;
        returns the committed snapshot version (``batch_id`` is unused:
        the append is key-idempotent)."""
        from clickhouse_k_means_spark.operators import ann_index

        return getattr(ann_index, self._APPEND)(
            batch, self.store, table=self.table, key=self.key, vec=self.vec
        )

    def _commit(self, batch: DataFrame, batch_id: int, n: int) -> None:
        self.n_batches += 1
        self.n_seen += n
        self.versions.append(self.process_batch(batch, batch_id))

    def attach(
        self,
        stream: DataFrame,
        checkpoint: str,
        query_name: str | None = None,
    ):
        """Ingest the stream into the index (caller awaits): one
        snapshot version per non-empty micro-batch."""
        return self._run(
            stream, checkpoint, query_name or self._DEFAULT_QUERY_NAME
        )


class StreamingIvfPqIngest(StreamingIvfIngest):
    """The composed-index twin: per-batch committed-geometry encodes
    via ``ivfpq_append`` — coarse cell plus residual PQ codes in one
    pass through the version-pinned quantizer AND codebooks."""

    _DEFAULT_QUERY_NAME = "streaming_ivfpq_ingest"
    _APPEND = "ivfpq_append"

    def __init__(
        self,
        store,
        table: str = "ivfpq_index",
        key: str = "vec_id",
        vec: str = "embedding",
    ):
        super().__init__(store, table=table, key=key, vec=vec)


class StreamingUpsertIngest(StreamingIvfIngest):
    """CDC-feed ingest: each micro-batch of CHANGED embeddings (the
    common upstream: re-embedded documents, refreshed profiles) lands
    through ``ann_upsert`` as one atomic update-or-insert version,
    uniform across the ivf/pq/ivfpq families.

    Marked: ``ann_upsert`` retries add a version by design, so each
    commit carries the ``(batch_query, batch_id)`` marker and a
    replayed batch of the same query name is skipped. The
    ``query_name`` is the LOGICAL stream id: reuse it (with a fresh
    checkpoint) to dedupe replays of the same feed; pick a new one for
    a new feed. ``process_batch(batch)`` without an id commits
    unmarked.

    Within-batch duplicate keys follow ``ann_upsert``'s keep-any
    contract — de-duplicate the CDC feed to latest-per-key upstream
    when a micro-batch can carry conflicting payloads."""

    _DEFAULT_QUERY_NAME = "streaming_upsert_ingest"
    marked = True

    def _meta(self, batch_id: int | None) -> dict | None:
        return self.marker(batch_id) if batch_id is not None else None

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        from clickhouse_k_means_spark.operators.ann_index import ann_upsert

        return ann_upsert(
            batch, self.store, table=self.table, key=self.key,
            vec=self.vec, metadata=self._meta(batch_id),
        )


class StreamingCdcApply(StreamingUpsertIngest):
    """Full CDC-feed ingest: a change stream carrying an op column
    (``'u'`` upserts and ``'d'`` deletes interleaved — what a real CDC
    feed looks like) lands through ``ann_cdc_apply`` as ONE atomic
    merge-on-read delta layer per micro-batch: tombstones for every
    batch key, fresh encodes for the upserts. No version ever shows a
    delete applied without its sibling upsert. Marked, like
    ``StreamingUpsertIngest``."""

    _DEFAULT_QUERY_NAME = "streaming_cdc_apply"

    def __init__(
        self,
        store,
        table: str = "ivf_index",
        key: str = "vec_id",
        vec: str = "embedding",
        op: str = "op",
    ):
        super().__init__(store, table=table, key=key, vec=vec)
        self.op = op

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> int:
        from clickhouse_k_means_spark.operators.ann_index import (
            ann_cdc_apply,
        )

        return ann_cdc_apply(
            batch, self.store, table=self.table, key=self.key,
            vec=self.vec, op=self.op, metadata=self._meta(batch_id),
        )


class StreamingPqIngest(StreamingIvfIngest):
    """The PQ twin: per-batch committed-codebook encodes via
    ``pq_append``."""

    _DEFAULT_QUERY_NAME = "streaming_pq_ingest"
    _APPEND = "pq_append"

    def __init__(
        self,
        store,
        table: str = "pq_index",
        key: str = "vec_id",
        vec: str = "embedding",
    ):
        super().__init__(store, table=table, key=key, vec=vec)
