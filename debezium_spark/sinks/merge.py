"""K1-K6 — the change-event sink: MERGE semantics on Spark.

Reference: ``JdbcChangeEventSink`` (debezium-connector-jdbc/.../
JdbcChangeEventSink.java:48,89-186,244) routes each batch's events —
truncate / delete / tombstone / upsert — with flush-order guarantees; the 11
SQL dialects' upsert statements (dialect/postgres PostgresDatabaseDialect
.java:102-110, mysql MySqlDatabaseDialect.java:199-222, …) all collapse into
ONE logical MERGE here. Insert modes insert/upsert/update:
JdbcSinkConnectorConfig.java:59,142-151.

Without Delta in the container, MERGE is emulated as
``target ANTI JOIN keys ∪ new_state`` — semantically the Delta ``MERGE
INTO`` we would issue in production (the K4 reduction guarantees unique
match keys either way).

Scale shape (the 100 TB story):

* ``merge_changes`` is a pure plan builder — zero driver-side actions.
* The change side is NOT unconditionally broadcast; AQE decides from
  runtime stats (a backfill batch can be the whole table — an
  unconditional hint there is an OOM).
* ``ParquetMergeSink`` hash-buckets the target on the PK and rewrites only
  the buckets the batch touches (dynamic partition overwrite) — per-batch
  I/O is O(changed buckets), not O(table). The production analog is Delta
  ``MERGE INTO`` file pruning.
"""

from __future__ import annotations

import os

import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.envelope import OP_TRUNCATE
from debezium_spark.inline import INLINE_MAX_ROWS, footer_rows_exceed
from debezium_spark.operators.reduce import apply_truncates, reduce_last_per_key
from debezium_spark.operators.unwrap import extract_new_record_state

BUCKET_COL = "__bucket"
#: name suffix of a dir renamed aside during a swap (``_replace_dir``)
_ASIDE = ".aside"


def arrow_last_per_key(tbl, n_keys: int):
    """Survivor indices (one per key, last event wins) for a collected
    micro-batch Arrow table carrying ``__op``/``__pos``/``__ts`` and
    ``__k_0..__k_{n-1}`` key columns.

    Order is max (pos, ts_ns, op) with nulls smallest; ties beyond the full
    order key go to the later batch row (stable lexsort + keep-last) —
    identical to ``reduce_last_per_key``'s window whenever the full order
    key differs. A NULL pos sorts smallest
    via the same null-flag trick as ts (NaN would otherwise rank LARGEST
    under lexsort, inverting the distributed window's nulls-smallest
    order)."""
    import numpy as np
    import pandas as pd

    pos_s = tbl.column("__pos").to_pandas()
    pos_flag = pos_s.notna().to_numpy()
    pos = pos_s.fillna(0).to_numpy(dtype=np.int64)
    ts_s = tbl.column("__ts").to_pandas()
    ts_flag = ts_s.notna().to_numpy()
    ts_val = ts_s.fillna(0).to_numpy(dtype=np.int64)
    op_arr = tbl.column("__op").to_pandas().fillna("").to_numpy(dtype=str)
    order = np.lexsort((op_arr, ts_val, ts_flag, pos, pos_flag))
    kdf = pd.DataFrame(
        {
            f"__k_{i}": tbl.column(f"__k_{i}").to_pandas()
            for i in range(n_keys)
        }
    )
    winners = ~kdf.iloc[order].duplicated(keep="last").to_numpy()
    return order[winners]


def inline_decline(row_schema) -> str | None:
    """Why the Arrow inline paths cannot carry a row field of
    ``row_schema`` exactly, or None when they can. Pure schema check,
    decided before any job runs:

    * year-month and calendar intervals: no Arrow conversion;
    * day-time intervals, variants, the NULL type and user-defined types,
      at any depth: a pyarrow-written parquet file (the driver merge, the
      MOR delta) reads back as bigint, ``struct<value,metadata>``, int
      and the UDT's storage struct.

    Every other type (integral, floating with NaN, decimal, string, char,
    binary, boolean, date, timestamp, timestamp_ntz, and arrays, maps and
    structs of them) reads back from both sinks as the distributed path
    writes it."""

    def walk(dt, where):
        if isinstance(dt, (T.YearMonthIntervalType, T.CalendarIntervalType)):
            return f"{where}: {dt.simpleString()} has no Arrow conversion"
        if isinstance(
            dt, (T.DayTimeIntervalType, T.VariantType, T.NullType,
                 T.UserDefinedType)
        ):
            return (
                f"{where}: {dt.simpleString()} changes type through a "
                "pyarrow parquet file"
            )
        if isinstance(dt, T.ArrayType):
            return walk(dt.elementType, f"{where}[]")
        if isinstance(dt, T.MapType):
            return walk(dt.keyType, f"{where}{{key}}") or walk(
                dt.valueType, f"{where}{{value}}"
            )
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                reason = walk(f.dataType, f"{where}.{f.name}")
                if reason:
                    return reason
        return None

    for f in row_schema.fields:
        reason = walk(f.dataType, f.name)
        if reason:
            return reason
    return None


def _as_nullable(dt):
    """``dt`` with every nested field, element and value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True,
                              f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


class InlineCollector:
    """The inline micro-batch collect both sinks share.

    ONE job flattens the batch (state already folded to the survivor's
    side: before-image for deletes, after-image otherwise) and pulls it
    driver-side as an Arrow table — no Row pickling; state columns never
    leave Arrow, so a genuine NaN double survives. Last-per-key survivors
    come from ``arrow_last_per_key``. The select list is built once per
    batch schema (which also fixes whether ``ts_ns`` exists) and kept on
    this instance, so a steady stream of same-schema batches builds no
    Spark expression per batch. Row fields leave in their all-nullable
    form, the form the distributed path reads back: a field declaring a
    non-null nested field is cast, because pyarrow refuses a NULL struct
    whose children are declared non-null and Spark's Arrow-to-DataFrame
    conversion refuses the nullable field ``toArrow`` yields for a
    non-null nested struct. The same build declines a schema with a
    reserved helper name or an ``inline_decline`` type: every batch of
    it takes the distributed plan, and no job runs first.
    ``num_buckets`` adds the COW sink's ``__b`` target-bucket column."""

    def __init__(self, pk_cols: list[str], num_buckets: int | None = None):
        self.pk_cols = pk_cols
        self.num_buckets = num_buckets
        self._selects: dict = {}

    def select_for(self, schema):
        """``(row_schema, where, select list)`` for a batch of ``schema``,
        or None when a row field collides with a helper column name or has
        a type ``inline_decline`` names."""
        if schema not in self._selects:
            self._selects[schema] = self._build(schema)
        return self._selects[schema]

    def _build(self, schema):
        declared = schema["after"].dataType
        row_schema = _as_nullable(T.StructType(declared.fields))
        field_names = [f.name for f in row_schema.fields]
        reserved = {"__op", "__pos", "__ts", "__deleted"}
        if self.num_buckets is not None:
            reserved.add("__b")
        if (
            reserved & set(field_names)
            or any(f.startswith("__k_") for f in field_names)
            or inline_decline(row_schema)
        ):
            return None
        keys = [F.col(f"key.{c}") for c in self.pk_cols]
        ts = F.col("ts_ns") if "ts_ns" in schema.fieldNames() else F.lit(None)
        bucket = (
            []
            if self.num_buckets is None
            else [F.pmod(F.hash(*keys), F.lit(self.num_buckets)).alias("__b")]
        )
        is_delete = F.col("op") == "d"

        def state(f):
            c = F.when(is_delete, F.col(f"before.{f.name}")).otherwise(
                F.col(f"after.{f.name}")
            )
            if declared[f.name].dataType != f.dataType:
                c = c.cast(f.dataType)
            return c.alias(f.name)

        sel = [
            F.col("op").alias("__op"),
            F.col("source.pos").alias("__pos"),
            ts.cast("long").alias("__ts"),
            *bucket,
            *[k.alias(f"__k_{i}") for i, k in enumerate(keys)],
            *[state(f) for f in row_schema.fields],
        ]
        return row_schema, F.col("op").isNotNull(), sel

    def collect(self, env_batch: DataFrame, max_rows: int):
        """Pull one micro-batch inline: ``(tbl, won, row_schema)`` with the
        collected rows and their last-per-key survivors, or None to take
        the distributed plan — a schema ``select_for`` declines (no job
        runs), an over-``max_rows`` batch (the parquet footers decide
        without a job when they can), or a truncate (the distributed plan
        owns its semantics)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if max_rows <= 0:
            return None
        built = self.select_for(env_batch.schema)
        if built is None or footer_rows_exceed(env_batch, max_rows):
            return None
        row_schema, where, sel = built
        tbl = env_batch.filter(where).select(*sel).limit(max_rows + 1).toArrow()
        if tbl.num_rows > max_rows:
            return None
        if tbl.num_rows and pc.any(
            pc.equal(tbl.column("__op"), OP_TRUNCATE)
        ).as_py():
            return None
        if tbl.num_rows == 0:
            return tbl, tbl, row_schema
        take_idx = arrow_last_per_key(tbl, len(self.pk_cols))
        return tbl, tbl.take(pa.array(take_idx, type=pa.int64())), row_schema


def merge_changes(
    target_df: DataFrame,
    env_df: DataFrame,
    pk_cols: list[str],
    *,
    insert_mode: str = "upsert",  # insert | upsert | update
    broadcast_changes: bool = False,
) -> DataFrame:
    """Apply one batch of envelopes to the target table, returning new state.

    Order of operations mirrors JdbcChangeEventSink.execute
    (JdbcChangeEventSink.java:89-186): truncates clear pending + target,
    then the reduced (last-per-key, K4) change set merges in.

    Pure plan construction — no Spark actions. The truncate-clears-target
    rule is a broadcast one-row flag joined into the base relation rather
    than a driver-side peek.
    """
    env_df = env_df.filter(F.col("op").isNotNull())  # tombstones carry no state
    env_df = apply_truncates(env_df)

    # One-row flag: does this batch contain a TRUNCATE? Joined (broadcast,
    # single row) so the target-clear is part of the plan, not an action.
    trunc_flag = env_df.agg(
        F.max(F.when(F.col("op") == OP_TRUNCATE, 1).otherwise(0)).alias("__has_trunc")
    )
    target_df = (
        target_df.crossJoin(F.broadcast(trunc_flag))
        .filter(F.coalesce(F.col("__has_trunc"), F.lit(0)) == 0)
        .drop("__has_trunc")
    )
    changes = env_df.filter(F.col("op") != OP_TRUNCATE)

    latest = reduce_last_per_key(changes)
    flat = extract_new_record_state(
        latest, delete_handling="rewrite", add_fields=("op",)
    )
    return merge_flat_changes(
        target_df, flat, pk_cols, insert_mode=insert_mode,
        broadcast=broadcast_changes,
    )


def merge_flat_changes(
    target_df: DataFrame,
    flat: DataFrame,
    pk_cols: list[str],
    *,
    insert_mode: str = "upsert",
    broadcast: bool = False,
) -> DataFrame:
    """The MERGE join itself, given an already-reduced flat change set
    (row fields + ``__deleted`` + ``__op``, unique per key). Shared by the
    distributed path (merge_changes) and the sink's inline micro-batch path,
    so the join/union semantics exist exactly once.

    ``broadcast`` hints only the JOIN side (the key set) — hinting the whole
    change set would put a join hint on the union leg too, which Spark
    rightly warns about. When False, AQE's runtime size estimate picks the
    join strategy (a backfill batch can be the whole table)."""
    keys = flat.select(*pk_cols)
    if broadcast:
        keys = F.broadcast(keys)
    value_cols = target_df.columns
    new_state = flat.filter(~F.col("__deleted")).select(*value_cols)

    if insert_mode == "upsert":
        kept = target_df.join(keys, pk_cols, "left_anti")
        return kept.unionByName(new_state)
    if insert_mode == "insert":
        # Plain INSERT of every create/read event; no matching.
        inserts = flat.filter(F.col("__op").isin("c", "r")).select(*value_cols)
        return target_df.unionByName(inserts)
    if insert_mode == "update":
        # Only matched rows change; unmatched change rows are ignored.
        upd = target_df.join(keys, pk_cols, "left_semi")
        kept = target_df.join(keys, pk_cols, "left_anti")
        updated = new_state.join(upd.select(*pk_cols), pk_cols, "left_semi")
        return kept.unionByName(updated)
    raise ValueError(f"unknown insert mode: {insert_mode}")


class ParquetMergeSink:
    """foreachBatch sink materializing an envelope stream into a parquet table.

    The production analog is ``MERGE INTO`` on Delta/Iceberg; the parquet
    emulation keeps the same interface but makes the I/O scale-shaped: the
    target is hash-bucketed on the PK (``partitionBy(__bucket)``), each
    batch merges against ONLY the buckets its keys touch, and the write is
    a dynamic partition overwrite of exactly those buckets. Schema
    evolution mode ``basic`` adds missing optional columns from the event
    schema (JdbcSinkConnectorConfig.java:158-163,
    JdbcChangeEventSink.java:195-238).

    Each batch takes one of three merges, chosen on the driver: the
    driver merge (``_merge_inline_driver``: ONE job, the collect), path 2
    (a collected batch the driver merge declines, joined as an Arrow
    local relation) or the distributed branch (``_write_distributed``),
    whose one stats aggregation decides the touched buckets and the
    truncate. Path 2 and the distributed branch share one Spark tail
    (``_merge_spark``). A batch lacking a column the table holds keeps
    that column's values on every row it does not rewrite.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_cols: list[str],
        *,
        insert_mode: str = "upsert",
        schema_evolution: str = "basic",
        num_buckets: int = 16,
        schema_registry=None,
        table_name: str = "target",
        inline_max_rows: int = INLINE_MAX_ROWS,
        inline_merge_target_rows: int = 1 << 18,
    ):
        self.spark = spark
        self.path = path
        self.pk_cols = pk_cols
        self.insert_mode = insert_mode
        self.schema_evolution = schema_evolution
        self.num_buckets = num_buckets
        self.schema_registry = schema_registry
        self.table_name = table_name
        self._schema_version = 0
        # Micro-batches at or below this row count take the inline path:
        # ONE collect pulls the batch driver-side as Arrow (the shared
        # InlineCollector), the K4 reduction is a numpy lexsort, and the
        # MERGE runs driver-side (below) or joins against a broadcast
        # local relation — 1-2 Spark jobs per batch instead of 3+, and the
        # batch files are scanned once instead of once per plan subtree.
        # Batches above the bound (backfills), and every batch of a schema
        # the collector declines (reserved helper names, ``inline_decline``
        # types), keep the fully distributed plan.
        self.inline_max_rows = inline_max_rows
        # When an inline batch's AFFECTED buckets together hold at most
        # this many on-disk rows (parquet footer counts, no job), the
        # MERGE itself also runs driver-side: pyarrow reads the touched
        # buckets, the upsert anti-join is a key-set filter, and the
        # merged buckets go back through the same staging+swap protocol —
        # ONE Spark job per micro-batch total (the batch collect) instead
        # of two. Bounds driver memory to (threshold + batch) Arrow rows;
        # big tables/buckets keep the distributed merge.
        self.inline_merge_target_rows = inline_merge_target_rows
        self._inline = InlineCollector(pk_cols, num_buckets)

    def _bucket_of(self) -> F.Column:
        return F.pmod(F.hash(*self.pk_cols), F.lit(self.num_buckets))

    def _has_buckets(self) -> bool:
        return os.path.exists(self.path) and any(
            e.startswith(f"{BUCKET_COL}=") for e in os.listdir(self.path)
        )

    def _write_schema_sidecar(self, schema) -> None:
        """Persist the flat row schema so a table whose every row has been
        deleted (zero bucket dirs — partitioned writes emit no files for an
        empty result) still reads as an empty table, not an error.

        The persisted set is the UNION of all schemas ever written (basic
        evolution only adds columns) — it is the authoritative known-column
        set for evolution detection, so it must not shrink when one batch
        happens to carry a narrower record schema."""
        import json

        schema = self._target_schema(schema)
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, "_schema.json.tmp")
        with open(tmp, "w") as f:
            json.dump(schema.jsonValue(), f)
        os.replace(tmp, os.path.join(self.path, "_schema.json"))

    def _sidecar_schema(self):
        import json

        p = os.path.join(self.path, "_schema.json")
        try:
            with open(p) as f:
                return T.StructType.fromJson(json.load(f))
        except (OSError, ValueError, KeyError):
            return None

    def _target_schema(self, row_schema):
        """The schema a batch of ``row_schema`` merges under: its row
        fields, then every column the table holds (the sidecar's union)
        that the batch lacks."""
        sidecar = self._sidecar_schema()
        if sidecar is None:
            return row_schema
        have = set(row_schema.fieldNames())
        return T.StructType(
            [*row_schema.fields,
             *(f for f in sidecar.fields if f.name not in have)]
        )

    def _detect_evolution(self, row_cols: list[str], min_pos) -> None:
        """K6 schema-evolution detection against the on-disk column set:
        the sidecar's union, never one sampled footer (after an evolution
        the buckets are heterogeneous, and a pre-evolution footer would
        re-classify an existing column as added). It only feeds the
        schema-history registry. ``min_pos`` is the batch's min
        source.pos (None for an empty batch), recorded when a change is."""
        if self.schema_evolution != "basic":
            return
        if self._has_buckets():
            sidecar = self._sidecar_schema()
            if sidecar is not None:
                disk_cols = {f.name for f in sidecar.fields}
            else:  # pre-sidecar table: union ALL footers, not one
                disk_cols = {
                    f.name
                    for f in self.spark.read.option("mergeSchema", "true")
                    .parquet(self.path)
                    .schema.fields
                }
        else:
            disk_cols = set(row_cols)
        added = [c for c in row_cols if c not in disk_cols]
        if added and self.schema_registry is not None:
            # K6 → schema history: record the evolved column set keyed by
            # this batch's position (SchemaHistory.java:183-224).
            self._schema_version += 1
            self.schema_registry.record(
                self.table_name,
                self._schema_version,
                [*row_cols, BUCKET_COL],
                int(min_pos or 0),
            )

    def _flat_local_from_won(self, won, row_schema):
        """Survivor Arrow table -> the one-partition local change relation
        the Spark-side MERGE joins against."""
        import pyarrow as pa
        import pyarrow.compute as pc

        field_names = [f.name for f in row_schema.fields]
        deleted = pc.fill_null(pc.equal(won.column("__op"), "d"), False)
        out_tbl = pa.table(
            [*(won.column(f) for f in field_names), deleted, won.column("__op")],
            names=[*field_names, "__deleted", "__op"],
        )
        flat_schema = T.StructType(
            [
                *(
                    T.StructField(f.name, f.dataType, True)
                    for f in row_schema.fields
                ),
                T.StructField("__deleted", T.BooleanType(), False),
                T.StructField("__op", T.StringType(), True),
            ]
        )
        return self.spark.createDataFrame(
            out_tbl, schema=flat_schema
        ).coalesce(1)

    def _merge_inline_driver(self, won, affected, row_schema,
                             epoch_id) -> bool:
        """Driver-side MERGE for a small upsert batch whose affected
        buckets are small: pyarrow reads the touched bucket files (no
        job), the upsert anti-join is a key-set filter, and the merged
        buckets go back through the shared staging+swap protocol — the
        batch's ONLY Spark job stays the ``InlineCollector`` collect.
        A table's first batch reads no files. Returns True when fully
        handled; returns False (no side effects) whenever exactness or
        scale is at risk: non-upsert modes, floating-point or nested
        key columns (Spark's NaN/complex equality differs from Python's),
        a survivor whose key struct differs from its state PK (the Spark
        path re-buckets by STATE pk — unreproducible without Spark's
        hash), an on-disk column the batch lacks of an ``inline_decline``
        type, over-threshold target buckets, or target files pyarrow
        cannot read or whose arrow types don't cast to the batch's."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        if self.insert_mode != "upsert" or self.inline_merge_target_rows <= 0:
            return False
        field_names = [f.name for f in row_schema.fields]
        schema = self._target_schema(row_schema)
        extra = T.StructType(schema.fields[len(field_names):])
        if inline_decline(extra):
            return False
        batch_schema = pa.schema(
            [won.schema.field(f) for f in field_names]
            + [pa.field(f.name, to_arrow_type(_as_nullable(f.dataType)))
               for f in extra.fields]
        )

        def conform(t):
            # ``t`` under batch_schema; a column it lacks (a pre-evolution
            # bucket, or an on-disk column the batch lacks) reads NULL,
            # as in the Spark tail's explicit-schema read
            return pa.table(
                [
                    t.column(f.name).cast(f.type) if f.name in t.column_names
                    else pa.nulls(t.num_rows, type=f.type)
                    for f in batch_schema
                ],
                schema=batch_schema,
            )
        for c in self.pk_cols:
            t = batch_schema.field(c).type
            if pa.types.is_floating(t) or pa.types.is_nested(t):
                return False
        # the Spark path assigns output buckets by hash(STATE pk); __b was
        # hashed from the KEY struct — only provably equal when the values
        # are (they are for well-formed CDC; guard anyway)
        for i, c in enumerate(self.pk_cols):
            if won.column(f"__k_{i}").to_pylist() != \
                    won.column(c).to_pylist():
                return False

        files_by_bucket: dict[int, list[str]] = {}
        total = 0
        for b in affected:
            d = os.path.join(self.path, f"{BUCKET_COL}={b}")
            fs = (
                sorted(
                    os.path.join(d, e)
                    for e in os.listdir(d)
                    if e.endswith(".parquet")
                )
                if os.path.isdir(d)
                else []
            )
            files_by_bucket[b] = fs
            for p in fs:
                try:
                    total += pq.ParquetFile(p).metadata.num_rows
                except (OSError, pa.lib.ArrowException):
                    # a footer pyarrow cannot read, e.g. a variant column
                    # the distributed path wrote: Spark merges the batch
                    return False
            if total > self.inline_merge_target_rows:
                return False

        bcol = won.column("__b").to_numpy(zero_copy_only=False)
        deleted = pc.fill_null(
            pc.equal(won.column("__op"), "d"), False
        ).to_numpy(zero_copy_only=False)
        merged_by_bucket: dict[int, "pa.Table"] = {}
        try:
            for b in affected:
                sel = np.nonzero(bcol == b)[0]
                sub = won.take(pa.array(sel, type=pa.int64()))
                # keys = the survivor STATE's pk values, exactly
                # merge_flat_changes' flat.select(pk_cols); a NULL
                # component never equals anything under join semantics
                keys = set()
                for kt in zip(
                    *(sub.column(c).to_pylist() for c in self.pk_cols)
                ):
                    if all(v is not None for v in kt):
                        keys.add(kt)
                parts = []
                for p in files_by_bucket[b]:
                    tt = conform(pq.read_table(p))
                    if keys:
                        mask = np.fromiter(
                            (
                                kt not in keys
                                for kt in zip(
                                    *(
                                        tt.column(c).to_pylist()
                                        for c in self.pk_cols
                                    )
                                )
                            ),
                            dtype=bool,
                            count=tt.num_rows,
                        )
                        if not mask.all():
                            tt = tt.filter(pa.array(mask))
                    parts.append(tt)
                alive = sub.filter(pa.array(~deleted[sel])).select(field_names)
                parts.append(conform(alive))
                merged_by_bucket[b] = pa.concat_tables(parts)
        except pa.lib.ArrowException:
            # Any Arrow read/cast failure (ArrowInvalid, but also
            # ArrowNotImplementedError / ArrowTypeError on mismatched
            # on-disk types) declines to the Spark merge path — no side
            # effects have happened yet, the distributed plan owns the
            # batch.
            return False

        staging = (
            f"{self.path}.staging-"
            f"{epoch_id if epoch_id is not None else 'x'}"
        )
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        for b, tbl in merged_by_bucket.items():
            if tbl.num_rows == 0:
                continue  # emptied bucket: the swap drops its dir
            d = os.path.join(staging, f"{BUCKET_COL}={b}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                tbl,
                os.path.join(d, "part-00000-inline.snappy.parquet"),
                compression="snappy",
            )
        os.makedirs(staging, exist_ok=True)
        self._swap_staged(staging, affected, schema)
        return True

    def _write_inline(self, tbl, won, row_schema, epoch_id) -> None:
        """Merge one batch the shared ``InlineCollector`` pulled (``tbl``,
        its last-per-key survivors ``won``). The driver-side merge
        (``_merge_inline_driver``) takes it when its bounds hold, a new
        table's first batch included; when that declines — a non-upsert
        mode, float or nested keys, touched buckets over
        ``inline_merge_target_rows``, or on-disk files pyarrow cannot read
        or cast — the survivors go back to the JVM as ONE Arrow batch
        (path 2) and ``_merge_spark`` joins against that local relation,
        so the collect already paid is not repeated."""
        import pyarrow.compute as pc

        field_names = [f.name for f in row_schema.fields]
        self._detect_evolution(
            field_names, pc.min(tbl.column("__pos")).as_py()
        )
        if tbl.num_rows == 0:
            if not self._has_buckets():
                self._write_schema_sidecar(row_schema)
            return
        affected = sorted(set(tbl.column("__b").to_pylist()))
        if self._merge_inline_driver(won, affected, row_schema, epoch_id):
            return
        self._merge_spark(
            self._flat_local_from_won(won, row_schema), affected, row_schema,
            epoch_id,
        )

    def write_batch(self, env_batch: DataFrame, epoch_id: int | None = None) -> None:
        self._recover_swap()
        got = self._inline.collect(env_batch, self.inline_max_rows)
        if got is not None:
            self._write_inline(*got, epoch_id)
        else:
            self._write_distributed(env_batch, epoch_id)

    def _write_distributed(self, env_batch: DataFrame, epoch_id) -> None:
        """A batch the inline collector declined. ONE aggregation job
        yields its touched buckets, min position and last truncate
        position — the Delta-MERGE-style pruning step, driver cost
        O(num_buckets), never O(rows). The change set is then planned as
        ``merge_changes`` builds it, with the truncate already decided:
        it drops every event before it and clears the table, so
        ``_merge_spark`` reads no old bucket. The truncate position is
        batch-wide, as ``merge_changes``' target clear is: a sink holds
        one table (``MultiTableSink`` slices per table before it)."""
        events = env_batch.filter(F.col("op").isNotNull())
        is_trunc = F.col("op") == OP_TRUNCATE
        stats = events.agg(
            F.max(is_trunc).alias("has_trunc"),
            F.max(F.when(is_trunc, F.col("source.pos"))).alias("trunc_pos"),
            F.collect_set(
                F.pmod(
                    F.hash(*[F.col(f"key.{c}") for c in self.pk_cols]),
                    F.lit(self.num_buckets),
                )
            ).alias("buckets"),
            F.min("source.pos").alias("min_pos"),
        ).collect()[0]
        changes = events.filter(~is_trunc)
        affected = stats["buckets"]
        if stats["has_trunc"]:
            affected = None
            if stats["trunc_pos"] is not None:
                changes = changes.filter(
                    F.col("source.pos") >= stats["trunc_pos"]
                )
        flat = extract_new_record_state(
            reduce_last_per_key(changes), delete_handling="rewrite",
            add_fields=("op",),
        )
        row_schema = T.StructType(flat.schema.fields[:-2])  # less __deleted, __op
        self._detect_evolution(row_schema.fieldNames(), stats["min_pos"])
        self._merge_spark(flat, affected, row_schema, epoch_id)

    def _merge_spark(self, flat: DataFrame, affected, row_schema,
                     epoch_id) -> None:
        """The Spark merge tail of path 2 and the distributed branch.
        ``flat`` is the reduced change set (row fields + ``__deleted`` +
        ``__op``, unique per key); ``affected`` the touched buckets, or
        None when a truncate cleared the table. Reads only those buckets
        (explicit schema: no footer merging pass, and a column the batch
        or an old bucket lacks reads NULL), merges, stages and swaps."""
        schema = self._target_schema(row_schema)
        if affected is None or not self._has_buckets():
            target = self.spark.createDataFrame([], schema)
        else:
            on_disk = T.StructType(
                [*schema.fields, T.StructField(BUCKET_COL, T.IntegerType())]
            )
            target = (
                self.spark.read.schema(on_disk).parquet(self.path)
                .filter(F.col(BUCKET_COL).isin(affected)).drop(BUCKET_COL)
            )
        for f in schema.fields[len(row_schema.fields):]:
            flat = flat.withColumn(f.name, F.lit(None).cast(f.dataType))
        out = merge_flat_changes(
            target, flat, self.pk_cols, insert_mode=self.insert_mode,
            broadcast=True,  # a micro-batch by construction
        ).withColumn(BUCKET_COL, self._bucket_of())
        # Stage-then-swap: ONE job writes the merged buckets to a staging
        # dir (reading the live target is safe — nothing is overwritten),
        # then bucket directories move into place with driver fs renames.
        # This replaces the localCheckpoint + dynamic-overwrite + cleanup
        # job chain (2 jobs/batch total instead of 4), and the written
        # bucket set falls out of listdir for free — a bucket whose rows
        # were all deleted is simply removed so stale data can't revive.
        # Crash safety: the swap is not atomic across buckets, but a replay
        # of the same batch against ANY mix of old/new buckets re-derives
        # the same per-bucket output (upsert of the same final state;
        # deleted keys already absent) — so checkpoint-driven re-delivery
        # converges, which is the exactly-once-in-effect contract. Within
        # one bucket the rename-aside swap (``_replace_dir``) keeps a whole
        # copy of its rows outside the staging dir a replay deletes. A
        # truncate (``affected`` None) swaps the whole table dir.
        #
        # The pre-write repartition on the bucket id bounds the table's file
        # count: each touched bucket gets exactly ONE new file per batch
        # (instead of files × tasks), so the next batch's target scan opens
        # O(buckets) files no matter how many batches have run. The shuffle
        # it introduces moves only the merged output — the same rows the
        # write was already going to move.
        import shutil

        nparts = len(affected) if affected else self.num_buckets
        out = out.repartition(max(nparts, 1), F.col(BUCKET_COL))
        staging = f"{self.path}.staging-{epoch_id if epoch_id is not None else 'x'}"
        shutil.rmtree(staging, ignore_errors=True)
        out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staging)
        if affected is None:
            self._replace_dir(staging, self.path)
            self._write_schema_sidecar(schema)
        else:
            self._swap_staged(staging, affected, schema)

    def _swap_staged(self, staging: str, affected, row_schema) -> None:
        """Move staged bucket dirs into place (driver fs renames) and drop
        emptied buckets; shared by the Spark merge tail and the driver-side
        inline merge so the swap/crash-consistency protocol exists once.
        A table's first batch creates the table dir here."""
        import shutil

        os.makedirs(self.path, exist_ok=True)
        written = set()
        for entry in os.listdir(staging):
            if entry.startswith(f"{BUCKET_COL}="):
                written.add(int(entry.split("=", 1)[1]))
                self._replace_dir(
                    os.path.join(staging, entry),
                    os.path.join(self.path, entry),
                )
        for b in set(affected) - written:
            pdir = os.path.join(self.path, f"{BUCKET_COL}={b}")
            if os.path.isdir(pdir):
                self._replace_dir(None, pdir)
        shutil.rmtree(staging, ignore_errors=True)
        self._write_schema_sidecar(row_schema)

    @staticmethod
    def _aside(dst: str) -> str:
        """Where ``dst`` waits during a swap: a '.'-prefixed sibling, which
        Spark's file listing and ``_has_buckets`` both skip."""
        head, tail = os.path.split(dst)
        return os.path.join(head, f".{tail}{_ASIDE}")

    def _replace_dir(self, src: str | None, dst: str) -> None:
        """Rename-aside swap of ``dst`` for ``src`` (None drops ``dst``):
        ``dst`` → aside, ``src`` → ``dst``, drop the aside copy. At every
        step a complete copy of ``dst``'s rows lives in ``dst`` or in its
        aside name, never only in a staging dir a replay deletes;
        ``_recover_swap`` settles an interrupted swap."""
        import shutil

        aside = self._aside(dst)
        if os.path.exists(dst):
            os.replace(dst, aside)
        if src is not None:
            os.replace(src, dst)
        shutil.rmtree(aside, ignore_errors=True)

    def _recover_swap(self) -> None:
        """Settle a swap a crash interrupted, before anything else touches
        the table: an aside copy whose target is missing goes back (the
        staged dir never moved in, so the replay re-derives it from the old
        rows); one whose target exists is a finished swap's leftover."""
        import shutil

        asides = [self._aside(self.path)]
        if os.path.isdir(self.path):
            asides += [
                os.path.join(self.path, e)
                for e in os.listdir(self.path)
                if e.startswith(".") and e.endswith(_ASIDE)
            ]
        for aside in asides:
            if not os.path.isdir(aside):
                continue
            head, tail = os.path.split(aside)
            dst = os.path.join(head, tail[1 : -len(_ASIDE)])
            if os.path.exists(dst):
                shutil.rmtree(aside)
            else:
                os.replace(aside, dst)

    def read(self) -> DataFrame:
        """The materialized table (without the bucketing column)."""
        if not self._has_buckets():
            schema = self._sidecar_schema()
            if schema is not None:
                return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(self.path)
            .drop(BUCKET_COL)
        )

    def __call__(self, env_batch: DataFrame, epoch_id: int) -> None:
        self.write_batch(env_batch, epoch_id)


class MultiTableSink:
    """K1 multi-table dispatch: one multiplexed envelope stream fans out to
    per-table MERGE sinks (JdbcChangeEventSink routes per collection,
    JdbcChangeEventSink.java:89-186; topic→table naming is K7's job).

    The per-batch table set is a tiny distinct on `source.table` (bounded by
    the captured-collection count, P10's guardrail axis); each table's slice
    then follows its own bucket-pruned merge. Unknown tables can be dropped
    or quarantined via the optional DLQ.
    """

    def __init__(self, sinks: dict[str, ParquetMergeSink], *, dlq=None):
        self.sinks = sinks
        self.dlq = dlq

    def write_batch(self, env_batch: DataFrame, epoch_id: int | None = None) -> None:
        tables = [
            r[0]
            for r in env_batch.select(F.col("source.table")).distinct().collect()
        ]
        for t in tables:
            part = env_batch.filter(F.col("source.table") == t)
            sink = self.sinks.get(t)
            if sink is not None:
                sink.write_batch(part, epoch_id)
            elif self.dlq is not None:
                self.dlq.quarantine(
                    part, reason=f"no sink for table {t}", epoch_id=epoch_id
                )

    def __call__(self, env_batch: DataFrame, epoch_id: int) -> None:
        self.write_batch(env_batch, epoch_id)
