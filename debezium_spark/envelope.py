"""The change-event envelope — the single record type of the engine.

Reference semantics: ``io.debezium.data.Envelope``
(debezium-connector-common/src/main/java/io/debezium/data/Envelope.java:30-128):
operations r/c/u/d/t/m (Envelope.java:37-62); fields before/after/op/source/
transaction/ts_ms (Envelope.java:90-128); which ops populate which fields
(Envelope.java:257-362 — e.g. DELETE carries ``before`` only).

Spark-first mapping: an envelope stream is a DataFrame with struct columns —
no bespoke record class, so every downstream operator is a plain projection
Catalyst can prune and push through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Operation codes — Envelope.java:37-62.
OP_READ = "r"  # snapshot read
OP_CREATE = "c"
OP_UPDATE = "u"
OP_DELETE = "d"
OP_TRUNCATE = "t"
OP_MESSAGE = "m"

DML_OPS = (OP_READ, OP_CREATE, OP_UPDATE, OP_DELETE)

ENVELOPE_COLS = (
    "key",
    "before",
    "after",
    "op",
    "source",
    "transaction",
    "ts_ms",
    "ts_us",
    "ts_ns",
)


def source_schema() -> T.StructType:
    """Provenance block (connector `source` struct, Envelope.java:106-110).

    ``pos`` is the total order within the feed (binlog position / LSN / SCN
    equivalent); ``tx_id`` groups events of one transaction; ``snapshot``
    flags rows that came from the snapshot phase.
    """
    return T.StructType(
        [
            T.StructField("db", T.StringType()),
            T.StructField("table", T.StringType()),
            T.StructField("pos", T.LongType()),
            T.StructField("tx_id", T.StringType(), True),
            T.StructField("snapshot", T.StringType(), True),
        ]
    )


def transaction_schema() -> T.StructType:
    """Per-event transaction metadata block (TransactionMonitor.java:75-104)."""
    return T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("total_order", T.LongType()),
            T.StructField("data_collection_order", T.LongType()),
        ]
    )


def envelope_schema(row_schema: T.StructType, key_schema: T.StructType) -> T.StructType:
    """Envelope StructType for a table with the given row/key shapes."""
    return T.StructType(
        [
            T.StructField("key", key_schema),
            T.StructField("before", row_schema, True),
            T.StructField("after", row_schema, True),
            T.StructField("op", T.StringType()),
            T.StructField("source", source_schema()),
            T.StructField("transaction", transaction_schema(), True),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("ts_ns", T.LongType()),
        ]
    )


def _null_struct(schema: T.StructType) -> Column:
    return F.lit(None).cast(schema)


#: make_envelope's constant Columns, kept for one JVM gateway
_CONSTANTS: dict = {}


def _constant(key, build) -> Column:
    """The Column ``build()`` makes, built once per JVM gateway and ``key``
    and then reused, so a stream of batches builds ``make_envelope``'s
    constant Columns (NULLs, the literal db/table names, already aliased)
    once. Keys are bounded by the tables a pipeline names."""
    from pyspark import SparkContext

    if _CONSTANTS.get("gateway") is not SparkContext._gateway:
        _CONSTANTS.clear()
        _CONSTANTS["gateway"] = SparkContext._gateway
    if key not in _CONSTANTS:
        _CONSTANTS[key] = build()
    return _CONSTANTS[key]


def wrap_snapshot(
    df: DataFrame,
    key_cols: list[str],
    *,
    db: str = "db",
    table: str = "t",
    pos: int = 0,
    ts_ms: int = 0,
    ts_us: int | None = None,
    ts_ns: int | None = None,
    snapshot_flag: str = "true",
) -> DataFrame:
    """Wrap a batch table read into READ ('r') envelopes — the snapshot phase.

    Reference: RelationalSnapshotChangeEventSource emits every snapshot row as
    an ``r`` event (RelationalSnapshotChangeEventSource.java:147-201); the
    record key is the table PK (relational/Key.java).

    The input DataFrame keeps whatever partitioning the scan produced (JDBC
    partitioned read / parquet splits), so snapshot parallelism is Spark task
    parallelism — no extra shuffle is introduced here.
    """
    row_schema = df.schema
    row = F.struct(*[F.col(c) for c in df.columns])
    key = F.struct(*[F.col(c) for c in key_cols])
    src = F.struct(
        F.lit(db).alias("db"),
        F.lit(table).alias("table"),
        F.lit(pos).cast("long").alias("pos"),
        F.lit(None).cast("string").alias("tx_id"),
        F.lit(snapshot_flag).alias("snapshot"),
    )
    return df.select(
        key.alias("key"),
        _null_struct(row_schema).alias("before"),
        row.alias("after"),
        F.lit(OP_READ).alias("op"),
        src.alias("source"),
        _null_struct(transaction_schema()).alias("transaction"),
        F.lit(ts_ms).cast("long").alias("ts_ms"),
        # Three precisions per Envelope.java:90-128 (ts_ms/ts_us/ts_ns are all
        # REQUIRED fields of the envelope schema); when the caller only knows
        # milliseconds the finer fields are the exact-scale equivalents.
        F.lit(ts_us if ts_us is not None else ts_ms * 1_000)
        .cast("long")
        .alias("ts_us"),
        F.lit(ts_ns if ts_ns is not None else ts_ms * 1_000_000)
        .cast("long")
        .alias("ts_ns"),
    )


def make_envelope(
    df: DataFrame,
    *,
    key: Column,
    before: Column,
    after: Column,
    op: Column,
    db: Column | str,
    table: Column | str,
    pos: Column,
    tx_id: Column | None = None,
    ts_ms: Column | None = None,
    ts_us: Column | None = None,
    ts_ns: Column | None = None,
) -> DataFrame:
    """Generic envelope constructor for change feeds (Envelope.java:257-362)."""
    def named(c, name):
        if isinstance(c, str):
            return _constant((name, c), lambda: F.lit(c).alias(name))
        if c is None:
            return _constant(
                (name, None), lambda: F.lit(None).cast("string").alias(name)
            )
        return c.alias(name)

    src = F.struct(
        named(db, "db"),
        named(table, "table"),
        pos.cast("long").alias("pos"),
        named(tx_id, "tx_id"),
        named(None, "snapshot"),
    )
    return df.select(
        key.alias("key"),
        before.alias("before"),
        after.alias("after"),
        op.alias("op"),
        src.alias("source"),
        _constant(
            "transaction",
            lambda: _null_struct(transaction_schema()).alias("transaction"),
        ),
        (ts_ms if ts_ms is not None else F.lit(0)).cast("long").alias("ts_ms"),
        (
            ts_us
            if ts_us is not None
            else (ts_ms if ts_ms is not None else F.lit(0)) * F.lit(1_000)
        )
        .cast("long")
        .alias("ts_us"),
        (
            ts_ns
            if ts_ns is not None
            else (ts_ms if ts_ms is not None else F.lit(0)) * F.lit(1_000_000)
        )
        .cast("long")
        .alias("ts_ns"),
    )


def tombstones_for_deletes(env_df: DataFrame) -> DataFrame:
    """Emit the tombstone record that follows each DELETE.

    Reference: ``tombstones.on.delete`` (CommonConnectorConfig.java:690) — a
    record with the deleted key and an all-null value, used downstream for
    log compaction. Modeled as an envelope row whose op/before/after are null.
    """
    deletes = env_df.filter(F.col("op") == OP_DELETE)
    return deletes.select(
        F.col("key"),
        F.lit(None).cast(env_df.schema["before"].dataType).alias("before"),
        F.lit(None).cast(env_df.schema["after"].dataType).alias("after"),
        F.lit(None).cast("string").alias("op"),
        F.col("source"),
        F.col("transaction"),
        F.col("ts_ms"),
        F.col("ts_us"),
        F.col("ts_ns"),
    )


def with_tombstones(env_df: DataFrame) -> DataFrame:
    """Interleave tombstones after their deletes (order restored via source.pos)."""
    return env_df.unionByName(tombstones_for_deletes(env_df))
