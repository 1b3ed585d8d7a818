"""Streaming ingest dedup: the snapshot hash store on the engine's one
micro-batch protocol (``snapshot_sink.MicroBatchSink``).

The reference has no streaming surface; this composes two pieces the
engine already certifies — ``operators/dedup.incremental_exact_dedup``
(digest anti-join vs persisted hash history, one commit per batch) and
``sources/state.SnapshotStateStore`` (snapshot-isolated manifest
commits) — into the production corpus-ingest shape: a document stream
deduped against EVERYTHING ever committed, not just the current
micro-batch, with survivors appended to a parquet sink.

Scale shape (100 TB corpus, streaming arrivals):
- per micro-batch cost is the incremental-dedup shape: one skew-free
  join keyed on the md5 digest against the history table plus one tiny
  hash append — the corpus-sized history is never rewritten.
- the durable state is the store's manifest log; the sink carries no
  replay marker (the hash history is key-idempotent). A crashed query
  resumes from its checkpoint and re-runs the failed batch against the
  last COMMITTED hash snapshot.
- survivors land before their hashes commit (plan, write, commit — the
  ingest CLI's order). A failed write commits nothing, so the replay
  dedups against the same history and writes the same survivors; a
  crash after the write and before the commit re-writes that batch's
  survivors on replay. At-least-once for the survivor output, never a
  loss.
- single writer per hash table (the incremental-dedup contract);
  Structured Streaming guarantees serial micro-batches within a query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from clickhouse_k_means_spark.operators.dedup import (
    _commit_history,
    _exact_plan,
    incremental_exact_dedup,
)
from clickhouse_k_means_spark.streaming.snapshot_sink import MicroBatchSink


class StreamingDedup(MicroBatchSink):
    """Driver-held counters + per-batch incremental dedup."""

    count_rows = True

    def __init__(
        self,
        store,
        table: str = "seen_hashes",
        text: str = "text",
        key: str = "doc_id",
    ):
        self.store = store
        self.table = table
        self.text = text
        self.key = key
        self.n_batches = 0
        self.n_seen = 0
        self.n_survived = 0

    def process_batch(self, batch: DataFrame) -> DataFrame:
        """Dedup one micro-batch against history and commit its hashes;
        returns survivors."""
        survivors, _ = incremental_exact_dedup(
            batch, self.store, table=self.table, text=self.text, key=self.key
        )
        return survivors

    def _commit(self, batch: DataFrame, _batch_id: int, n: int) -> None:
        survivors, rows, n_new = _exact_plan(
            batch, self.store, self.table, self.text, self.key, True
        )
        n_survived = 0
        if n_new:
            # the write counts what it lands: the survivors run once
            written = Observation()
            out = survivors.observe(written, F.count("*").alias("n"))
            out.write.mode("append").parquet(self.sink_path)
            n_survived = written.get["n"]
        _commit_history(self.store, self.table, rows, n_new)
        self.n_batches += 1
        self.n_seen += n
        self.n_survived += n_survived

    def attach(
        self,
        stream: DataFrame,
        sink_path: str,
        checkpoint: str,
        query_name: str = "streaming_dedup",
    ):
        """Dedup the stream into a parquet sink (caller awaits).

        Survivors of each micro-batch append to ``sink_path``; the
        hash history advances one snapshot per non-empty batch.
        """
        self.sink_path = sink_path
        return self._run(stream, checkpoint, query_name)


def watermarked_dedup_stream(
    stream: DataFrame,
    keys: list[str],
    time_col: str = "event_time",
    delay: str = "30 minutes",
) -> DataFrame:
    """Native bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` over ``keys``.

    The complement to ``StreamingDedup``: that class keeps the FULL
    ingest history (external snapshot store, grows forever, survives
    restarts); this keeps dedup state only inside the watermark
    horizon — Spark garbage-collects key state as the watermark
    advances, so state size is bounded by arrival rate × ``delay``
    regardless of stream lifetime. Correct exactly when duplicates
    are known to arrive within ``delay`` of each other (retry storms,
    at-least-once upstreams), which is the common case the full-history
    store is overkill for. The first occurrence wins; later arrivals
    inside the horizon are dropped even if their event time differs.
    """
    return stream.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(keys)
