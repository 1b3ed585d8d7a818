"""The engine's one micro-batch protocol, and exactly-once streaming
ingestion into the versioned snapshot store.

Every streaming sink (this module's ``SnapshotStreamSink``, the ANN
ingests in ``ann_stream``, ``StreamingSketch``, ``StreamingDedup`` and
``StreamingKMeans``) runs on ``MicroBatchSink``: one ``foreachBatch``
driver with an availableNow trigger, the caller's query name and
checkpoint. Per micro-batch it

1. skips a replayed batch (marked sinks only, see below) before any
   Spark job runs;
2. materializes the batch at most once, as an eager local checkpoint,
   so the sink's own passes never re-run the stream-source scan; a
   sink that reads its batch exactly once opts out
   (``materialize = False``);
3. skips an empty batch: one ``isEmpty`` job, or a ``count`` for a
   sink that keeps a row counter (``count_rows = True``);
4. hands the batch to the sink's ``_commit``.

Replay rule. A sink whose every commit adds a version (``marked =
True``: ``SnapshotStreamSink``, ``StreamingUpsertIngest``,
``StreamingCdcApply``, ``StreamingSketch``) commits the marker
``{"batch_query": <query name>, "batch_id": <id>}`` in the SAME atomic
manifest commit as its data (the Delta-Lake ``(txnAppId, txnVersion)``
idea on the engine's own store). Structured Streaming re-delivers the
same ids, in increasing order, after a crash, so a batch whose id is
≤ the last marker OF THE SAME QUERY NAME is skipped. Crash windows:

- after staging data files, before the commit → orphans (no manifest
  references them; ``vacuum`` sweeps them), and the replay commits;
- after the commit, before Spark records the epoch → the replay
  arrives with the same id and the marker skips it.

Either way each batch lands in exactly one committed version. The
marker is found by a backward manifest scan
(``SnapshotStateStore.latest_metadata_value``), so an interleaved
non-sink commit (upsert, truncate, maintenance) cannot erase it. The
query name is the LOGICAL stream id: replaying a feed under the same
name (even with a fresh checkpoint) skips what it committed; a new
feed into the same table takes a new name, and its ids, restarting at
0, never match the old feed's marker. Markers without a
``batch_query`` (written before the marker was namespaced) never
match, so such a table re-commits the batch: at-least-once, never a
silent loss. One writer per (query name, table).

Key-idempotent sinks (the ANN appends, ``StreamingDedup``) and
``StreamingKMeans`` carry no marker: a replayed batch re-runs, and the
ANN append's anti-join adds nothing for it. ``StreamingDedup`` writes
a batch's survivors before it commits their hashes, so a replay after
a crash between the two writes those survivors again: at-least-once
output, never a loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from clickhouse_k_means_spark.sources.state import SnapshotStateStore


class MicroBatchSink:
    """The micro-batch driver and replay rule every streaming sink
    shares (see the module docstring). A subclass defines
    ``_commit(batch, batch_id, n)`` — ``n`` is the batch's row count,
    ``None`` unless the sink sets ``count_rows`` — and starts its
    stream with ``_run``; a marked subclass also holds ``store``,
    ``table``, ``query_name`` and an ``n_skipped`` counter."""

    marked = False
    materialize = True
    count_rows = False

    def _run(self, stream: DataFrame, checkpoint: str, query_name: str):
        """Start ``stream`` into this sink (caller awaits)."""
        self.query_name = query_name
        return (
            stream.writeStream.foreachBatch(self._apply)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def _apply(self, batch: DataFrame, batch_id: int) -> bool:
        """One micro-batch under the protocol; True if it committed."""
        if self.marked and self.replayed(batch_id):
            return False
        if self.materialize:
            batch = batch.localCheckpoint(eager=True)
        if self.count_rows:
            n = batch.count()
        else:
            n = 0 if batch.isEmpty() else None
        if n == 0:
            return False
        self._commit(batch, batch_id, n)
        return True

    def _commit(self, batch: DataFrame, batch_id: int, n: int | None) -> None:
        raise NotImplementedError

    def last_batch_id(self, query_name: str | None = None) -> int | None:
        """Last committed marker id of ``query_name`` (this sink's
        query by default); ``None`` if that query committed none."""
        b = self.store.latest_metadata_value(
            self.table, "batch_id",
            match={"batch_query": query_name or self.query_name},
        )
        return int(b) if b is not None else None

    def replayed(self, batch_id: int) -> bool:
        """True (and counted in ``n_skipped``) when this query already
        committed ``batch_id``. Reads manifests only, no Spark job."""
        last = self.last_batch_id()
        if last is None or batch_id > last:
            return False
        self.n_skipped += 1
        return True

    def marker(self, batch_id: int) -> dict:
        """The manifest metadata a marked commit carries."""
        return {"batch_query": self.query_name, "batch_id": int(batch_id)}


class SnapshotStreamSink(MicroBatchSink):
    """Exactly-once sink appending a stream into one store table: one
    version per non-empty micro-batch, carrying its marker. The batch
    is read once by the append, so it is not materialized."""

    marked = True
    materialize = False

    def __init__(self, store: SnapshotStateStore, table: str):
        self.store = store
        self.table = table
        self.query_name = "snapshot_ingest"
        self.n_committed = 0
        self.n_skipped = 0

    def process_batch(self, batch: DataFrame, batch_id: int) -> bool:
        """Commit one micro-batch idempotently. Returns True if the
        batch was committed, False if it was a replay (or empty)."""
        return self._apply(batch, batch_id)

    def _commit(self, batch: DataFrame, batch_id: int, _n) -> None:
        self.store.append(batch, self.table, metadata=self.marker(batch_id))
        self.n_committed += 1

    def attach(
        self,
        stream: DataFrame,
        checkpoint: str,
        query_name: str = "snapshot_ingest",
    ):
        """Start the stream into the store (caller awaits)."""
        return self._run(stream, checkpoint, query_name)
