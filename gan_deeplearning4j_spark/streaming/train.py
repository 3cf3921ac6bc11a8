"""Streaming incremental training: foreachBatch → parameter-averaging round.

The reference's training loop is a bounded batch loop over minibatch files
(dl4jGANComputerVision.java:408-621). The streaming re-expression treats each
micro-batch as one TrainingMaster round: map = local RMSProp steps per worker
shard, reduce = element-wise mean of the workers' parameter buffers, with the
averaged weights carried across micro-batches in the driver-held Network —
exactly the state the reference's TrainingMaster holds between `fit` calls.

Scale shape: the per-batch work is ``fit_distributed`` (the micro-batch's
rows collected to the driver in one Arrow job, then one ``fit_rounds`` task
per worker fitting rows ``w::n`` and returning one float32 buffer — no task
ever sees more than one micro-batch), the weight state is O(model), and the
stream source provides backpressure/checkpointing. This is
the `foreachBatch` variant SURVEY §2.9 O4 defers: deterministic driver loop
first, streaming facade on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..pipeline import Network, fit_distributed


def streaming_fit(
    stream_df: DataFrame,
    net: Network,
    n_workers: int = 4,
    local_steps: int = 5,
    batch_size: int = 200,
    features_col: str = "features",
    label_col: str = "label_vec",
    timeout_sec: int = 300,
    checkpoint_dir: str | None = None,
) -> list[tuple[int, float]]:
    """Drive one availableNow pass over a bounded stream, fitting `net`
    incrementally: one parameter-averaging round per micro-batch. Returns
    [(batch_id, mean_loss)] history; `net.weights` holds the final model.

    (availableNow is the bounded-backfill trigger; a production continuous
    job uses processingTime + checkpoint_dir and the same callback.)
    """
    history: list[tuple[int, float]] = []

    def _round(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        loss = fit_distributed(
            batch_df, net,
            n_workers=n_workers, local_steps=local_steps,
            batch_size=batch_size,
            features_col=features_col, label_col=label_col,
        )
        history.append((batch_id, loss))

    writer = stream_df.writeStream.foreachBatch(_round).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination(timeout_sec)
    q.stop()
    return history
