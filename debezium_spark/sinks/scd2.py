"""Streaming SCD2 sink: maintain a type-2 dimension table incrementally.

The batch operator (``operators/reduce.py:scd2_history``) materializes a
whole change feed in one pass; this sink is its foreachBatch counterpart —
each micro-batch appends the keys' new versions and closes the versions
they supersede, so the warehouse dimension table is continuously current.

Reference anchor: the type-2 consumer is what Debezium users build from the
envelope's before/after + source.pos contract (Envelope.java:257-362); the
reference ships latest-state JDBC upsert (JdbcChangeEventSink.java) and
leaves history materialization to the warehouse — here it is a first-class
sink.

Idempotency by construction (the foreachBatch replay contract): a batch
APPLY is ``rechain(dedup_by_(key, pos)(existing_touched_rows ∪ batch_rows))``
— a pure function of the union, so replaying a batch reproduces byte-equal
rows instead of corrupting intervals. Delete events are stored as durable
marker rows (``op='d'``, filtered from reads): they close their predecessor
in THIS rechain and every future one, even if the key's history is touched
again many epochs later.

Scale shape: the target is hash-bucketed on the key; a batch rewrites ONLY
the buckets its keys touch (dynamic partition overwrite), and the rechain
window partitions by key — the same key-clustered exchange the COW MERGE
sink pays. History depth per key is bounded by that key's change count, not
the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class Scd2Sink:
    """foreachBatch sink materializing an envelope stream as an SCD2 table.

    Layout: parquet under ``path`` partitioned by ``__bucket``; row schema
    ``key cols, value cols, op ('c'/'u'/'r'/'d'), valid_from_pos,
    valid_to_pos, is_current``. ``read()`` returns version rows only
    (markers filtered)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        value_cols: list[str] | None = None,
        *,
        num_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.value_cols = value_cols
        self.num_buckets = num_buckets

    # -- helpers ----------------------------------------------------------
    def _bucket(self, *cols) -> F.Column:
        return F.pmod(
            F.abs(F.hash(*cols)), F.lit(self.num_buckets)
        ).cast("int")

    def _flatten(self, env_df: DataFrame) -> DataFrame:
        value_cols = self.value_cols
        if value_cols is None:
            value_cols = [
                f.name
                for f in env_df.schema["after"].dataType.fields
                if f.name not in self.key_cols
            ]
            self.value_cols = value_cols
        return env_df.select(
            *[F.col("key").getField(k).alias(k) for k in self.key_cols],
            *[F.col("after").getField(v).alias(v) for v in value_cols],
            F.col("op"),
            F.col("source.pos").alias("valid_from_pos"),
        )

    def _rechain(self, rows: DataFrame) -> DataFrame:
        """Recompute validity intervals over a key's full (deduped) row set
        — versions AND delete markers participate in the lead(), so a
        marker closes its predecessor; the marker itself is never current."""
        w = Window.partitionBy(*self.key_cols).orderBy("valid_from_pos")
        return rows.withColumn(
            "valid_to_pos", F.lead("valid_from_pos").over(w)
        ).withColumn(
            "is_current",
            F.col("valid_to_pos").isNull() & (F.col("op") != "d"),
        )

    def _existing(self) -> DataFrame | None:
        """The table, or None before its first write (no ``__bucket=`` dir
        yet). A table that exists but cannot be read raises: treating it
        as absent would rewrite its touched buckets from the batch alone
        and drop their history."""
        if not os.path.isdir(self.path) or not any(
            e.startswith("__bucket=") for e in os.listdir(self.path)
        ):
            return None
        return self.spark.read.parquet(self.path)

    # -- contract ----------------------------------------------------------
    def write_batch(
        self, env_batch: DataFrame, epoch_id: int | None = None
    ) -> None:
        batch = self._flatten(env_batch).withColumn(
            "__bucket", self._bucket(*self.key_cols)
        )
        # one aggregation: the touched buckets, empty for an empty batch
        touched_buckets = batch.agg(F.collect_set("__bucket")).first()[0]
        if not touched_buckets:
            return
        existing = self._existing()
        if existing is not None:
            in_scope = existing.filter(
                F.col("__bucket").isin(touched_buckets)
            )
            keys = batch.select(*self.key_cols, "__bucket").distinct()
            touched = in_scope.join(keys, [*self.key_cols, "__bucket"], "left_semi")
            untouched = in_scope.join(
                keys, [*self.key_cols, "__bucket"], "left_anti"
            )
            base_cols = [*self.key_cols, *self.value_cols, "op",
                         "valid_from_pos", "__bucket"]
            merged = (
                touched.select(*base_cols)
                .unionByName(batch.select(*base_cols))
                .dropDuplicates([*self.key_cols, "valid_from_pos"])
            )
            out = self._rechain(merged).unionByName(untouched)
        else:
            out = self._rechain(batch)
        prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", None
        )
        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        try:
            out.write.mode("overwrite").partitionBy("__bucket").parquet(
                self.path
            )
        finally:
            if prev is not None:
                self.spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )

    def __call__(self, env_batch: DataFrame, epoch_id: int) -> None:
        self.write_batch(env_batch, epoch_id)

    def read(self) -> DataFrame:
        """Version rows (delete markers filtered), most-natural projection."""
        df = self.spark.read.parquet(self.path)
        return df.filter(F.col("op") != "d").select(
            *self.key_cols,
            *self.value_cols,
            "valid_from_pos",
            "valid_to_pos",
            "is_current",
        )

    def current(self) -> DataFrame:
        """The latest-state view — equals what the MERGE sink would hold."""
        return self.read().filter(F.col("is_current")).drop(
            "valid_from_pos", "valid_to_pos", "is_current"
        )
