"""Streaming k-means: mini-batch centroid updates on the engine's one
micro-batch protocol (``snapshot_sink.MicroBatchSink``).

The reference is batch-iterative; this is the engine's streaming
extension in exactly the shape SURVEY §2.9 names: the model lives in
the DRIVER (like the batch fit loop), each micro-batch runs one
assignment + per-cluster mean pass (the same codegen'd expressions as
``plans/kmeans.py``), and centroids blend with exponential decay —
the classic streaming k-means update (MLlib's old StreamingKMeans
semantics):

    n'_j = λ·n_j + m_j
    c'_j = (λ·n_j·c_j + Σ batch points in j) / n'_j

λ=1 gives the running global mean; λ=0 forgets history each batch.
State is k centroids + k counts in the driver — no state store and no
replay marker; ``foreachBatch`` keeps the dataflow itself stateless
and codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_k_means_spark.functions.centroids import nearest_centroid_struct
from clickhouse_k_means_spark.streaming.snapshot_sink import MicroBatchSink

Model = list[tuple[int, list[float]]]


class StreamingKMeans(MicroBatchSink):
    def __init__(self, model: Model, decay: float = 0.9):
        if not model:
            raise ValueError("StreamingKMeans needs a non-empty initial model")
        if not 0.0 <= decay <= 1.0:
            raise ValueError(f"decay must be in [0, 1], got {decay}")
        self.model: Model = [(int(j), [float(x) for x in c]) for j, c in model]
        self.counts: dict[int, float] = {j: 0.0 for j, _ in self.model}
        self.decay = decay
        self.n_batches = 0

    @property
    def dim(self) -> int:
        return len(self.model[0][1])

    def update(self, batch: DataFrame) -> None:
        """One mini-batch update: assign → per-cluster sums → blend."""
        dim = self.dim
        j = nearest_centroid_struct("Y", self.model)["j"]
        rows = (
            batch.select(j.alias("j"), "Y")
            .groupBy("j")
            .agg(
                F.count(F.lit(1)).alias("m"),
                *[F.sum(F.col("Y")[d]).alias(f"s{d}") for d in range(dim)],
            )
            .collect()
        )
        stats = {int(r["j"]): r for r in rows}
        new_model: Model = []
        for jid, c in self.model:
            n_old = self.counts[jid] * self.decay
            r = stats.get(jid)
            if r is None:
                self.counts[jid] = n_old
                new_model.append((jid, c))
                continue
            m = float(r["m"])
            n_new = n_old + m
            blended = [
                (n_old * c[d] + float(r[f"s{d}"])) / n_new for d in range(dim)
            ]
            self.counts[jid] = n_new
            new_model.append((jid, blended))
        self.model = new_model
        self.n_batches += 1

    def _commit(self, batch: DataFrame, _batch_id: int, _n: int | None) -> None:
        self.update(batch)

    def attach(
        self,
        stream: DataFrame,
        checkpoint: str,
        query_name: str = "streaming_kmeans",
    ):
        """Run the update per micro-batch (caller awaits termination).

        ``stream`` must expose a ``Y array<double>`` column (use the
        ``from_table`` projection on the stream first).
        """
        return self._run(stream, checkpoint, query_name)

    def assign(self, df: DataFrame) -> DataFrame:
        """Assignment under the current model (same as the batch path)."""
        s = nearest_centroid_struct("Y", self.model)
        return df.select("*", s["j"].alias("j"), s["dist"].alias("dist"))
