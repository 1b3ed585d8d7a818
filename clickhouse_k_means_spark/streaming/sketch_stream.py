"""Streaming incremental sketches: the persisted mergeable-state classes
on the engine's one micro-batch protocol
(``snapshot_sink.MicroBatchSink``).

Composes the certified pieces the same way ``dedup_stream`` does:
``functions/sketches.IncrementalDistinct`` (one few-KB HLL row per
micro-batch, union-merged on read) and ``IncrementalHistogram`` (exact
integer bin counts) attached to a document/event stream. The running
aggregate is answerable AT ANY TIME from the committed state — the
streaming analogue of ClickHouse's ``uniqState``/``histogram``
materialized-view pattern.

Replay semantics: unlike dedup (where a replayed batch is absorbed by
the hash anti-join), sketch commits are NOT idempotent by content —
re-running a committed batch double-counts the histogram and re-unions
the HLL (harmless for HLL, biased for the histogram). So the sink is
marked: each state commit carries the ``(batch_query, batch_id)``
marker in its own manifest, and a replayed batch is skipped before it
is read. State and marker land in one atomic commit, so no crash
window can count a batch twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from clickhouse_k_means_spark.streaming.snapshot_sink import MicroBatchSink


class StreamingSketch(MicroBatchSink):
    """Attach incremental sketch state to a stream.

    ``kind``: 'distinct' (HLL, `IncrementalDistinct`) or 'histogram'
    (`IncrementalHistogram` — pass lo/width/n_bins).
    """

    marked = True

    def __init__(
        self,
        store,
        col: str,
        kind: str = "distinct",
        table: str | None = None,
        lo: float = 0.0,
        width: float = 1.0,
        n_bins: int = 100,
    ):
        from clickhouse_k_means_spark.functions.sketches import (
            IncrementalDistinct,
            IncrementalHistogram,
        )

        if kind == "distinct":
            self.state = IncrementalDistinct(store, table=table or "hll_stream")
        elif kind == "histogram":
            self.state = IncrementalHistogram(
                store, lo=lo, width=width, n_bins=n_bins,
                table=table or "hist_stream",
            )
        else:
            raise ValueError(f"StreamingSketch: unknown kind {kind!r}")
        self.store = store
        self.table = self.state.table
        self.col = col
        self.kind = kind
        self.query_name = "streaming_sketch"
        self.n_batches = 0
        self.n_skipped = 0

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Commit one micro-batch's sketch unless this query already
        committed ``batch_id`` (replay after recovery)."""
        if not self.replayed(batch_id):
            self._commit(batch, batch_id)

    def _commit(self, batch: DataFrame, batch_id: int, _n=None) -> None:
        self.state.update(batch, self.col, metadata=self.marker(batch_id))
        self.n_batches += 1

    def attach(self, stream: DataFrame, checkpoint: str,
               query_name: str = "streaming_sketch"):
        """Fold the stream into the sketch state (caller awaits)."""
        return self._run(stream, checkpoint, query_name)
