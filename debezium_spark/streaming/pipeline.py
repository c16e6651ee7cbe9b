"""P1/P2/P3/P8 — the streaming runtime: snapshot → stream with checkpoints.

``ChangeDataPipeline`` is the Spark shape of the reference's
``ChangeEventSourceCoordinator`` (ChangeEventSourceCoordinator.java:123-150:
one coordinator runs the snapshot phase, then hands off to the streaming
source at the recorded offset):

1. **Snapshot phase** — a batch of ``op='r'`` envelopes merged into the
   target (RelationalSnapshotChangeEventSource.java:147-201 step 7).
2. **Streaming phase** — ``readStream`` over an append-only envelope feed
   directory; each micro-batch is the ChangeEventQueue poll
   (ChangeEventQueue.java:312, batch ≤ max.batch.size ≈ maxFilesPerTrigger)
   and the foreachBatch body is the EventDispatcher program
   (EventDispatcher.java:278-349): transform chain → K4 reduce → MERGE.
3. **Offsets** — ``checkpointLocation`` replaces
   BaseSourceTask.commit/OffsetContext (BaseSourceTask.java:364,565-575);
   restart resumes at the first unprocessed file, and the idempotent MERGE
   makes replays exactly-once in effect.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Transform = Callable[[DataFrame], DataFrame]


def replay_feed(
    env_df: DataFrame,
    feed_dir: str,
    *,
    num_chunks: int = 4,
    order_col: str = "source.pos",
    start_chunk: int = 0,
) -> list[str]:
    """Materialize an envelope DataFrame as an ordered sequence of parquet
    files under ``feed_dir`` — the test stand-in for a transaction log
    (the role the reference's DDL+DML fixtures play in its *IT tests).

    Files are written in ``order_col`` ranges with ascending names and
    mtimes, so the file stream source replays them in commit order. Chunk
    boundaries respect position order: a later chunk never contains an
    earlier position, which is the per-key ordering contract the MERGE
    relies on (SURVEY §7.3 "Ordering").
    """
    os.makedirs(feed_dir, exist_ok=True)
    spark = env_df.sparkSession
    # Order-respecting, near-equal chunks: row index over ONE sorted
    # partition (this is the test-feed generator — the coalesce is fine at
    # fixture scale and avoids an empty-spec ntile window, keeping the
    # WindowExec warning meaningful in bench output).
    n = env_df.count()
    # This generator serializes the whole feed through one sort task by
    # design; refuse quietly-at-scale reuse instead of degrading. sf0.1's
    # feed is ~40k events — far under the cap; a real log replay at scale
    # goes through the file-stream source directly, not this fixture writer.
    _REPLAY_MAX_ROWS = 2_000_000
    if n > _REPLAY_MAX_ROWS:
        raise ValueError(
            f"replay_feed is a single-partition fixture generator; {n} rows "
            f"exceeds its {_REPLAY_MAX_ROWS}-row cap. Write the feed with a "
            "distributed range-partitioned writer instead."
        )
    chunked = (
        env_df.coalesce(1)
        .sortWithinPartitions(F.col(order_col))
        .withColumn(
            "__chunk",
            (F.monotonically_increasing_id() * num_chunks / F.lit(max(n, 1)))
            .cast("int") + 1,
        )
    )
    chunked = chunked.localCheckpoint(eager=True)  # stable chunk assignment
    paths = []
    for i in range(1, num_chunks + 1):
        part = chunked.filter(F.col("__chunk") == i).drop("__chunk")
        tmp = os.path.join(feed_dir, f"__tmp_chunk_{start_chunk + i:05d}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        data_file = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        final = os.path.join(feed_dir, f"chunk_{start_chunk + i:05d}.parquet")
        os.replace(os.path.join(tmp, data_file), final)
        import shutil

        shutil.rmtree(tmp)
        # Ascending mtimes: the file source orders new files by timestamp.
        mtime = time.time() + (start_chunk + i) * 0.01
        os.utime(final, (mtime, mtime))
        paths.append(final)
    return paths


class ChangeDataPipeline:
    """Snapshot → stream coordinator with checkpointed, idempotent delivery.

    Parameters
    ----------
    feed_dir: append-only directory of envelope parquet files (the log).
    sink: a foreachBatch callable, normally a ``ParquetMergeSink``.
    transforms: SMT chain applied inside each micro-batch, in order
        (Transformations.java:90-108 — chained, first-null-drops-record).
    max_files_per_trigger: ChangeEventQueue.maxBatchSize analog.
    signals: optional ``SignalChannel`` polled once per micro-batch before
        dispatch (SignalProcessor.java:117,147).
    notifications: optional ``NotificationLog`` receiving phase events
        (Notification.java:21).
    lineage: optional ``OpenLineageEmitter`` receiving lifecycle
        RunEvents (OpenLineageEmitter.java:54): START at snapshot begin,
        RUNNING at stream begin, COMPLETE at stream end — with the
        pipeline's source/sink datasets attached to the START event.
    lineage_datasets: the ``DatasetMetadata`` list the lineage events
        carry (kind routes each to inputs or outputs).
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        feed_dir: str,
        envelope_schema,
        sink,
        checkpoint_dir: str,
        transforms: Sequence[Transform] = (),
        max_files_per_trigger: int | None = 1,
        signals=None,
        notifications=None,
        heartbeat=None,
        lineage=None,
        lineage_datasets=None,
    ):
        self.spark = spark
        self.feed_dir = feed_dir
        self.envelope_schema = envelope_schema
        self.sink = sink
        self.checkpoint_dir = checkpoint_dir
        self.transforms = list(transforms)
        self.max_files_per_trigger = max_files_per_trigger
        self.signals = signals
        self.notifications = notifications
        self.heartbeat = heartbeat
        self.lineage = lineage
        self.lineage_datasets = list(lineage_datasets or [])
        self.batches_seen = 0

    # -- phase 1: snapshot ------------------------------------------------
    def run_snapshot(self, snapshot_env_df: DataFrame) -> None:
        """Merge a batch of op='r' envelopes into the target (S1)."""
        if self.notifications is not None:
            self.notifications.emit("snapshot", "STARTED")
        if self.lineage is not None:
            # INITIAL -> START, datasets attached once up front (the
            # reference emits table datasets with the task's first state)
            self.lineage.emit("INITIAL", self.lineage_datasets)
        self.sink.write_batch(snapshot_env_df, epoch_id=-1)
        if self.notifications is not None:
            self.notifications.emit("snapshot", "COMPLETED")

    # -- phase 2: streaming ----------------------------------------------
    def _dispatch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The EventDispatcher program for one micro-batch."""
        self.batches_seen += 1
        if self.signals is not None:
            self.signals.poll(self, batch_df, epoch_id)
        out = batch_df
        for t in self.transforms:
            out = t(out)
        self.sink.write_batch(out, epoch_id)
        if self.heartbeat is not None and self.heartbeat.due():
            # Offsets advance with the committed batch; the heartbeat records
            # liveness + the high-water position (HeartbeatImpl.java:84-92).
            # Aggregated over the PRE-transform batch: the offset high-water
            # mark belongs to the raw envelope stream, and unwrap-style
            # transforms legitimately drop the source struct. Only a batch
            # the heartbeat emits on pays for the aggregation job.
            agg = batch_df.agg(
                F.max("source.pos").alias("p"), F.count("*").alias("n")
            ).collect()[0]
            self.heartbeat.maybe_emit(pos=agg["p"], rows_in_batch=agg["n"])

    def stream_df(self) -> DataFrame:
        reader = self.spark.readStream.schema(self.envelope_schema)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(self.feed_dir)

    def run_available(self) -> None:
        """Process everything currently in the feed, then stop
        (Trigger.AvailableNow — the golden-test and catch-up mode)."""
        if self.notifications is not None:
            self.notifications.emit("streaming", "STARTED")
        if self.lineage is not None:
            self.lineage.emit("RUNNING", self.lineage_datasets)
        try:
            q = (
                self.stream_df()
                .writeStream.foreachBatch(self._dispatch)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        except BaseException as exc:
            if self.lineage is not None:
                # RESTARTING -> FAIL with the errorMessage run facet
                self.lineage.emit("RESTARTING", self.lineage_datasets,
                                  error=exc)
            raise
        if self.notifications is not None:
            self.notifications.emit("streaming", "COMPLETED")
        if self.lineage is not None:
            self.lineage.emit("STOPPED", self.lineage_datasets)

    def start(self, processing_time: str = "1 seconds"):
        """Continuous micro-batch mode; returns the StreamingQuery."""
        return (
            self.stream_df()
            .writeStream.foreachBatch(self._dispatch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
