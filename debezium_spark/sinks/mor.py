"""Merge-on-read sink: O(batch) writes, amortized compaction.

The copy-on-write ``ParquetMergeSink`` rewrites every bucket a batch
touches; with uniformly-distributed keys a 4k-event batch touches *all*
buckets, so per-batch I/O degrades to O(table) — the canonical CDC
scale-killer. ``LogMergeSink`` is the lakehouse answer (Hudi MOR, Paimon
changelog, Delta deletion vectors): each micro-batch appends ONE reduced
delta file, reads merge base + deltas with last-epoch-wins, and a
compaction folds deltas into a new base every ``compact_every`` batches.

Reference parity: the sink contract is still ``JdbcChangeEventSink``
(debezium-connector-jdbc/.../JdbcChangeEventSink.java:89-186) — K4
last-per-key reduction before flush, truncate clears prior state, deletes
remove rows — only the materialization strategy differs.

Scale shape (the 100 TB story):

* **Write path is O(batch)**: one Spark job per micro-batch (reduce +
  unwrap + append); no target read, no target rewrite. Sustained ingest
  cost is independent of table size.
* **Read path is O(base + live deltas)**: a single window merge keyed on
  the PK. At scale, base and deltas hash-bucketed on the PK make this a
  co-partitioned merge with no shuffle; compaction bounds the delta count
  so read amplification is ≤ ``compact_every`` small files per bucket.
* **Crash safety without a transaction log**: delta dirs are keyed by
  epoch and written with overwrite, so checkpoint-driven re-delivery of a
  batch is idempotent; compaction writes a *versioned* base dir
  (``base-<epoch>``) and flips an atomically-replaced marker file — the
  invariant "current base ∪ deltas newer than marker = full state" holds
  at every step, and stale dirs are garbage, not corruption.
* **Truncates are data, not control flow**: a truncate becomes a marker
  row inside the delta; the read plan drops everything from earlier
  epochs via one broadcast one-row aggregate. No extra per-batch driver
  action.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.envelope import OP_TRUNCATE
from debezium_spark.inline import INLINE_MAX_ROWS
from debezium_spark.operators.reduce import apply_truncates, reduce_last_per_key
from debezium_spark.operators.unwrap import extract_new_record_state
from debezium_spark.sinks.merge import InlineCollector

_HELPER_COLS = ("__epoch", "__deleted", "__op", "epoch")
_NO_BASE = -(2**62)


class LogMergeSink:
    """foreachBatch sink with merge-on-read semantics (upsert mode only).

    Layout under ``path``::

        base-<E>/        compacted state through epoch E (current one named
                         by the marker; others are unreferenced garbage)
        delta/epoch=N/   one reduced, unwrapped delta per micro-batch
        _compacted       JSON marker {"epoch": E, "neg_floor": F} —
                         atomically replaced

    Epoch namespaces: the streaming checkpoint owns the non-negative
    epochs; out-of-band writes (incremental/blocking snapshot chunks,
    ad-hoc ``write_batch(df)`` with no epoch) get *allocated* negative
    epochs (-1, -2, …) via :meth:`allocate_oob_epoch`, so successive
    chunks never clobber each other. Negative epochs sort below every
    stream epoch in the last-epoch-wins merge — exactly the DBLog
    contract, where a stream event for a key always supersedes a snapshot
    chunk row (the snapshotter's dedup window already drops overlapping
    chunk rows). The marker's ``neg_floor`` is the most negative epoch
    folded into the base: a visible delta is ``e > epoch`` (stream side)
    or ``e < neg_floor`` (snapshot side), so chunks written after a
    compaction stay visible.

    ``compact_every``: fold deltas into a new base once this many live
    delta dirs exist (0 disables auto-compaction; call :meth:`compact`).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        pk_cols: list[str],
        *,
        insert_mode: str = "upsert",
        compact_every: int = 8,
        schema_registry=None,
        table_name: str = "target",
        inline_max_rows: int = INLINE_MAX_ROWS,
    ):
        if insert_mode != "upsert":
            raise ValueError(
                "LogMergeSink implements upsert only; use ParquetMergeSink "
                f"for insert_mode={insert_mode!r}"
            )
        self.spark = spark
        self.path = path
        self.pk_cols = pk_cols
        self.compact_every = compact_every
        self.schema_registry = schema_registry
        self.table_name = table_name
        self._schema_version = 0
        self._known_cols: set[str] | None = None
        # Micro-batches at or below this row count take the inline path:
        # ONE job pulls the batch driver-side as Arrow, the K4 reduction is
        # a numpy lexsort (the same arrow_last_per_key the COW sink's
        # inline path uses), and the reduced delta file is written by the
        # DRIVER with pyarrow — zero further Spark jobs. One job per batch
        # instead of the distributed delta plan's 3-4 (broadcast truncate
        # agg + window shuffle + write). Batches above the bound
        # (backfills), and batches of a schema the collector declines,
        # keep the fully distributed plan.
        self.inline_max_rows = inline_max_rows
        self._inline = InlineCollector(pk_cols)
        os.makedirs(self._delta_root, exist_ok=True)

    # -- layout helpers ---------------------------------------------------
    @property
    def _delta_root(self) -> str:
        return os.path.join(self.path, "delta")

    @property
    def _marker_path(self) -> str:
        return os.path.join(self.path, "_compacted")

    def _marker(self) -> tuple[int | None, int | None]:
        """(max positive epoch folded, most negative epoch folded)."""
        try:
            with open(self._marker_path) as f:
                d = json.load(f)
            neg = d.get("neg_floor")
            return int(d["epoch"]), (None if neg is None else int(neg))
        except (OSError, ValueError, KeyError):
            return None, None

    def _marker_epoch(self) -> int | None:
        return self._marker()[0]

    def _is_visible(self, e: int, m: int | None, floor: int | None) -> bool:
        if e >= 0:
            return m is None or e > m
        return floor is None or e < floor

    def _base_dir(self, epoch: int) -> str:
        return os.path.join(self.path, f"base-{epoch}")

    def _delta_epochs(self) -> list[int]:
        out = []
        for entry in os.listdir(self._delta_root):
            if entry.startswith("epoch="):
                out.append(int(entry.split("=", 1)[1]))
        return sorted(out)

    # -- write path -------------------------------------------------------
    def _delta_frame(self, env_batch: DataFrame) -> DataFrame:
        """Reduced, unwrapped delta for one batch — a pure plan.

        Truncate events survive as a single all-null marker row with
        ``__op='t'`` built inside the same plan (no driver-side peek);
        ``apply_truncates`` has already dropped same-batch events the
        truncate supersedes, so data rows in a truncating epoch are
        post-truncate by construction.
        """
        env = apply_truncates(env_batch.filter(F.col("op").isNotNull()))
        changes = env.filter(F.col("op") != OP_TRUNCATE)
        latest = reduce_last_per_key(changes)
        flat = extract_new_record_state(
            latest, delete_handling="rewrite", add_fields=("op",)
        )
        marker = (
            env.filter(F.col("op") == OP_TRUNCATE)
            .limit(1)
            .select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in flat.schema.fields
                    if f.name not in ("__op", "__deleted")
                ],
                F.lit(True).alias("__deleted"),
                F.lit(OP_TRUNCATE).alias("__op"),
            )
        )
        return flat.unionByName(marker)

    def _prepare_delta_inline(self, env_batch: DataFrame):
        """Arrow-vectorized inline delta preparation: the shared
        ``InlineCollector`` pulls the batch and picks its last-per-key
        survivors. Returns the reduced delta as a pyarrow table (columns =
        row fields + ``__deleted`` + ``__op`` — exactly the distributed
        ``_delta_frame`` schema, types carried unchanged from the
        envelope's Arrow conversion), or ``None`` to take the distributed
        path: a schema the collector declines (reserved helper names,
        ``inline_decline`` types), an over-threshold batch, or a truncate.
        Any other error surfaces from write_batch."""
        import pyarrow as pa
        import pyarrow.compute as pc

        got = self._inline.collect(env_batch, self.inline_max_rows)
        if got is None:
            return None
        _, won, row_schema = got
        field_names = [f.name for f in row_schema.fields]
        deleted = pc.fill_null(pc.equal(won.column("__op"), "d"), False)
        return pa.table(
            [*(won.column(f) for f in field_names), deleted,
             won.column("__op")],
            names=[*field_names, "__deleted", "__op"],
        )

    def _write_delta_file(self, tbl, epoch: int) -> None:
        """Driver-side delta write: one pyarrow parquet file in the epoch
        dir (same rmtree-then-write overwrite semantics as the Spark
        writer, so checkpointed re-delivery stays idempotent)."""
        import pyarrow.parquet as pq

        d = os.path.join(self._delta_root, f"epoch={epoch}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            tbl, os.path.join(d, "part-00000-inline.snappy.parquet"),
            compression="snappy",
        )

    def allocate_oob_epoch(self) -> int:
        """Next free epoch in the out-of-band (negative) namespace.

        Callers that need replay idempotency (the incremental snapshotter)
        should persist the allocated epoch alongside their own progress
        before writing, then pass it to :meth:`write_batch` explicitly."""
        _, floor = self._marker()
        negs = [e for e in self._delta_epochs() if e < 0]
        lo = min([0, *negs, *([floor] if floor is not None else [])])
        return lo - 1

    def write_batch(self, env_batch: DataFrame, epoch_id: int | None = None) -> None:
        epoch = self.allocate_oob_epoch() if epoch_id is None else int(epoch_id)
        m, floor = self._marker()
        if m is not None and not self._is_visible(epoch, m, floor):
            raise ValueError(
                f"epoch {epoch} is already folded into the base "
                f"(marker epoch={m}, neg_floor={floor}); a delta written "
                "there would be invisible"
            )
        inline_tbl = self._prepare_delta_inline(env_batch)
        delta = None if inline_tbl is not None else self._delta_frame(env_batch)
        cols = (
            set(inline_tbl.column_names)
            if inline_tbl is not None
            else set(delta.columns)
        )
        if self.schema_registry is not None:
            if self._known_cols is None:
                self._known_cols = cols
            elif cols - self._known_cols:
                self._schema_version += 1
                self._known_cols |= cols
                self.schema_registry.record(
                    self.table_name,
                    self._schema_version,
                    sorted(self._known_cols),
                    epoch,
                )
        if inline_tbl is not None:
            self._write_delta_file(inline_tbl, epoch)
        else:
            # Overwrite keyed by epoch → re-delivery of a checkpointed
            # batch rewrites the identical delta (idempotent replay).
            delta.write.mode("overwrite").parquet(
                os.path.join(self._delta_root, f"epoch={epoch}")
            )
        if self.compact_every and len(self._delta_epochs()) >= self.compact_every:
            self.compact()

    # -- read path --------------------------------------------------------
    def read(self, as_of_epoch: int | None = None) -> DataFrame:
        """Merged state: base ∪ live deltas, last epoch wins.

        ``as_of_epoch`` time-travels to that epoch (inclusive). History is
        bounded below by the compaction marker — exactly like retained
        versions in a lakehouse; raise ``compact_every`` to keep more.
        """
        m, floor = self._marker()
        if as_of_epoch is not None and m is not None and as_of_epoch < m:
            raise ValueError(
                f"epoch {as_of_epoch} predates compaction marker {m}; "
                "raise compact_every to retain more history"
            )
        epochs = [
            e
            for e in self._delta_epochs()
            if self._is_visible(e, m, floor)
            and (as_of_epoch is None or e <= as_of_epoch or e < 0)
        ]
        parts = []
        if m is not None:
            parts.append(
                self.spark.read.parquet(self._base_dir(m))
                .withColumn("__epoch", F.lit(m).cast("long"))
                .withColumn("__deleted", F.lit(False))
                .withColumn("__op", F.lit(None).cast("string"))
            )
        if epochs:
            deltas = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", self._delta_root)
                .parquet(
                    *[
                        os.path.join(self._delta_root, f"epoch={e}")
                        for e in epochs
                    ]
                )
                .withColumn("__epoch", F.col("epoch").cast("long"))
                .drop("epoch")
            )
            parts.append(deltas)
        if not parts:
            raise FileNotFoundError(f"LogMergeSink at {self.path} is empty")
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p, allowMissingColumns=True)

        # Latest truncate epoch as a broadcast one-row aggregate: rows from
        # earlier epochs (including the base) are dead.
        t_agg = merged.agg(
            F.max(
                F.when(F.col("__op") == OP_TRUNCATE, F.col("__epoch"))
            ).alias("__T")
        )
        live = (
            merged.crossJoin(F.broadcast(t_agg))
            .filter(F.col("__epoch") >= F.coalesce(F.col("__T"), F.lit(_NO_BASE)))
            .filter(F.col("__op").isNull() | (F.col("__op") != OP_TRUNCATE))
        )
        w = Window.partitionBy(*self.pk_cols).orderBy(F.col("__epoch").desc())
        value_cols = [c for c in live.columns if c not in (*_HELPER_COLS, "__T")]
        return (
            live.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & ~F.col("__deleted"))
            .select(*value_cols)
        )

    def changes_since(self, epoch: int) -> DataFrame:
        """The change stream OUT of the materialized table (the Delta CDF /
        Hudi incremental-query analog): one reduced row per (key, epoch)
        for every on-disk epoch > ``epoch``, ``__deleted`` marking deletes,
        ``__epoch`` ordering the stream. O(deltas read) — no merge window.
        Consumers must keep up within ``compact_every`` batches, the same
        retention contract a lakehouse changelog has."""
        m, floor = self._marker()
        if m is not None and 0 <= epoch < m:
            raise ValueError(
                f"epoch {epoch} predates compaction marker {m}; "
                "changelog history has been folded into the base"
            )
        live = [
            e
            for e in self._delta_epochs()
            if e > epoch and self._is_visible(e, m, floor)
        ]
        if not live:
            raise FileNotFoundError("no changes past the requested epoch")
        deltas = (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", self._delta_root)
            .parquet(
                *[os.path.join(self._delta_root, f"epoch={e}") for e in live]
            )
            .withColumn("__epoch", F.col("epoch").cast("long"))
            .drop("epoch")
        )
        return deltas.filter(
            F.col("__op").isNull() | (F.col("__op") != OP_TRUNCATE)
        )

    # -- compaction -------------------------------------------------------
    def compact(self) -> None:
        """Fold live deltas into a new versioned base.

        Ordering gives the crash-safety invariant: (1) write ``base-<E>``,
        (2) atomically flip the marker, (3) delete superseded dirs. A crash
        before (2) leaves the old marker valid (new base is garbage); after
        (2), leftover old dirs are garbage collected by the next compact.
        """
        epochs = self._delta_epochs()
        old_m, old_floor = self._marker()
        pos = [e for e in epochs if e >= 0 and (old_m is None or e > old_m)]
        if not pos:
            # Folding only snapshot chunks would rewrite the current base
            # dir in place (no new positive epoch to version it by) — not
            # crash-safe; chunk counts are bounded by the snapshot itself,
            # so leaving them as live deltas is fine.
            return
        negs = [
            e for e in epochs if e < 0 and (old_floor is None or e < old_floor)
        ]
        new_m = max(pos)
        new_floor = min(negs) if negs else old_floor
        self.read().write.mode("overwrite").parquet(self._base_dir(new_m))

        tmp = self._marker_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"epoch": new_m, "neg_floor": new_floor}, f)
        os.replace(tmp, self._marker_path)

        folded_negs = set(negs)
        for e in epochs:
            if (0 <= e <= new_m) or e in folded_negs or (
                e < 0 and old_floor is not None and e >= old_floor
            ):
                shutil.rmtree(
                    os.path.join(self._delta_root, f"epoch={e}"),
                    ignore_errors=True,
                )
        for entry in os.listdir(self.path):
            if entry.startswith("base-") and entry != f"base-{new_m}":
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)

    def __call__(self, env_batch: DataFrame, epoch_id: int) -> None:
        self.write_batch(env_batch, epoch_id)
