"""Round-2 operator registrations: T2/T11(json)/T12/T13/T14/T15/T19,
S6/S12, K6 schema evolution, F1 CloudEvents — each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_spark.formats.cloudevents import (
    from_cloudevents_json,
    to_cloudevents_json,
)
from debezium_spark.operators.convert import (
    apply_custom_converters,
    tinyint_one_to_boolean,
    zero_date_fallback,
)
from debezium_spark.operators.document import extract_new_document_state
from debezium_spark.operators.filter import schema_change_filter
from debezium_spark.operators.geometry import (
    circle_contains_point,
    circle_struct,
    geometry_format,
    line_through_points,
    point_wkb_from_hex_coords,
    swap_point_coordinates,
)
from debezium_spark.operators.misc import enforce_record_size
from debezium_spark.operators.unwrap import extract_new_record_state
from debezium_spark.schema.history import attach_schema_version
from debezium_spark.sinks.merge import merge_changes
from debezium_spark.sources.changefeed import (
    CHANGES_CTE,
    SNAPSHOT_CTE,
    accounts_changefeed,
    accounts_snapshot,
)
from debezium_spark.sources.snapshot import should_snapshot
from debezium_spark.suite import register


#: Target rows per Python-kernel task for the wire fixtures. Measured on
#: this box (r13 optimization round): each Arrow-Python task costs ~10 ms
#: of fixed runner overhead (worker acquire + Arrow stream setup + JVM
#: column conversion) REGARDLESS of work — a null kernel over the same
#: 100k-message stream ran 0.67 s at 64 partitions, 0.40 s at 32, 0.26 s
#: at 8 — so tiny partitions are pure overhead, while one giant partition
#: serializes the heavy row-path kernels (binlog/logminer).
_WIRE_ROWS_PER_TASK = 8192


def _wire_parts(spark, rows: int) -> int:
    """Partition count for the checkpointed wire fixtures: FLOORED at
    defaultParallelism, growing rows-proportionally past it (bounded at
    8 waves so huge feeds amortize the fixed per-task cost with larger
    batches, not more tasks).

    r13 sized this by rows alone (~13 partitions at sf0.1) — optimal for
    the Python decode kernels in isolation, but the checkpoint's
    partitioning pins EVERY downstream stage (there is no exchange
    between the decode and e.g. the typed projection), so the
    regex/lambda-heavy JVM projection of the s22 family ran 13-of-32
    cores and regressed 2.6x (VERDICT r13 #3). The ~0.1 s the decode
    legs pay for core-count tasks at sf0.1 buys the dominant JVM stages
    full parallelism (guide §2.5: partition for the EXPENSIVE stage)."""
    cap = spark.sparkContext.defaultParallelism
    by_rows = (int(rows) + _WIRE_ROWS_PER_TASK - 1) // _WIRE_ROWS_PER_TASK
    return max(2, cap, min(by_rows, 8 * cap))


def _feed_rows(sf_dir: str) -> int:
    """Row count of the events feed from the parquet footer (driver-side
    metadata read, no Spark job). Falls back to a size estimate when the
    footer is unreadable (e.g. a non-local path in production)."""
    import os

    path = f"{sf_dir}/events.parquet"
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # pragma: no cover - non-local / exotic storage
        try:
            return max(1, os.path.getsize(path) // 20)
        except OSError:
            return 100_000


def _materialize_stream(spark, df, sf_dir):
    """Repartition a wire-fixture stream to the scale-adaptive task size
    and materialize it: the fixture build (untimed) pays one small
    round-robin shuffle so the TIMED decode runs exactly
    ``_wire_parts`` clean Python-kernel tasks instead of the union's
    ragged ~65 (one near-empty task per control-message branch, each
    paying the fixed Arrow-runner cost)."""
    return df.repartition(
        _wire_parts(spark, _feed_rows(sf_dir))
    ).localCheckpoint(eager=True)


def _events_feed(spark, sf_dir):
    """The events scan that feeds every wire-fixture Arrow kernel,
    SPREAD across the executor cores: the sf parquet is one small file
    (a single input split), and without an explicit repartition the
    Python protocol work downstream — encode + decode of hundreds of
    thousands of wire messages — would run on ONE core. The repartition
    is sized by ROWS (``_WIRE_ROWS_PER_TASK``), not the core count: see
    the constant's note for the measured per-task overhead that makes
    core-count-many tiny partitions a net loss. On a real cluster the
    log arrives as many segments and this repartition is a no-op by the
    time it matters."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").repartition(
        _wire_parts(spark, _feed_rows(sf_dir))
    )


# Stream-position fences for the K6/T13/S4/S30 fixtures are SCALE-RELATIVE:
# absolute constants broke at sf0.001 (max pos 999 never reached a 5000
# fence — the s30 failover never happened and the s4/k6 windows degraded to
# empty). Every fence derives from max(pos) of the feed, so the fixtures
# exercise the same geometry at every scale factor. The oracle computes the
# identical value inline (a scalar subquery over `events`); the Spark side
# pays one bounded 1-row agg per fence.
DDL_POS_SQL = "(SELECT max(event_id) // 2 FROM events)"
WATERMARK_POS_SQL = DDL_POS_SQL
GTID_OPEN_POS_SQL = "(SELECT (max(event_id) * 3) // 10 FROM events)"
GTID_CLOSE_POS_SQL = "(SELECT (max(event_id) * 7) // 10 FROM events)"


def _max_pos(spark, sf_dir) -> int:
    """max(event_id) of the feed — the one bounded agg the scale-relative
    fences cost (mirrors the offset reads the reference's contexts hold)."""
    from debezium_spark.sources.changefeed import _events

    return int(
        _events(spark, sf_dir).agg(F.max("event_id")).collect()[0][0]
    )


# ---------------------------------------------------------------------------
# T2 — ExtractNewDocumentState (document-store unwrap via from_json)
# ---------------------------------------------------------------------------
@register(
    "t2_extract_new_document_state",
    oracle="""
    SELECT event_id AS pos,
           user_id AS id,
           event_type AS status,
           value AS balance,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE event_type <> 'error'
    """,
)
def t2_extract_new_document_state(spark, sf_dir):
    """Mongo-style feed: the document arrives as a JSON *string*; unwrap is
    parse+flatten (ExtractNewDocumentState.java:55). The feed serializes the
    row to JSON and T2 must recover it exactly (round-trip through text)."""
    from debezium_spark.sources.changefeed import _events

    ev = _events(spark, sf_dir)
    doc = F.to_json(
        F.struct(
            F.col("user_id").alias("id"),
            F.col("event_type").alias("status"),
            F.col("value").alias("balance"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )
    feed = ev.select(
        F.col("event_id").alias("pos"),
        F.when(F.col("event_type") != "error", doc).alias("after_json"),
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("k", T.LongType()),
        ]
    )
    return extract_new_document_state(feed, schema, keep=("pos",))


# ---------------------------------------------------------------------------
# T11 — EnforceRecordSize, real serialized-size path
# ---------------------------------------------------------------------------
@register(
    "t11_record_size_json",
    oracle="""
    SELECT doc_id,
           strlen(CAST(to_json(struct_pack(
               doc_id := doc_id, text := text, lang := lang,
               source := source, n_chars := n_chars)) AS VARCHAR)) AS json_bytes
    FROM documents
    WHERE strlen(CAST(to_json(struct_pack(
               doc_id := doc_id, text := text, lang := lang,
               source := source, n_chars := n_chars)) AS VARCHAR)) <= 400
    """,
)
def t11_record_size_json(spark, sf_dir):
    """The to_json sizing path (EnforceRecordSize.java:48) — measured on the
    actual serialized bytes, not a precomputed length column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = enforce_record_size(docs, 400)
    return kept.select(
        "doc_id",
        F.octet_length(F.to_json(F.struct(*docs.columns))).alias("json_bytes"),
    )


# ---------------------------------------------------------------------------
# T12 — SchemaChangeEventFilter
# ---------------------------------------------------------------------------
@register(
    "t12_schema_change_filter",
    oracle="""
    SELECT event_id,
           CASE event_type WHEN 'signup' THEN 'CREATE'
                           WHEN 'error' THEN 'DROP'
                           ELSE 'ALTER' END AS ddl_type
    FROM events
    WHERE CASE event_type WHEN 'signup' THEN 'CREATE'
                          WHEN 'error' THEN 'DROP'
                          ELSE 'ALTER' END IN ('CREATE', 'ALTER')
    """,
)
def t12_schema_change_filter(spark, sf_dir):
    """Schema-change stream filtered by DDL type
    (SchemaChangeEventFilter.java:36); the DDL stream is synthesized
    deterministically from the event feed."""
    from debezium_spark.sources.changefeed import _events

    ev = _events(spark, sf_dir)
    ddl = ev.select(
        "event_id",
        F.when(F.col("event_type") == "signup", "CREATE")
        .when(F.col("event_type") == "error", "DROP")
        .otherwise("ALTER")
        .alias("ddl_type"),
    )
    return schema_change_filter(ddl, ["CREATE", "ALTER"])


# ---------------------------------------------------------------------------
# T13 — ExtractSchemaToNewRecord via the schema-history registry
# ---------------------------------------------------------------------------
@register(
    "t13_schema_to_record",
    oracle=f"""
    SELECT event_id AS pos,
           CASE WHEN event_id >= {DDL_POS_SQL} THEN 2 ELSE 1 END AS __schema_version,
           CASE WHEN event_id >= {DDL_POS_SQL}
                THEN '["id", "status", "balance", "tier"]'
                ELSE '["id", "status", "balance"]' END AS __schema_columns
    FROM events
    """,
)
def t13_schema_to_record(spark, sf_dir):
    """Schema metadata copied into each record
    (ExtractSchemaToNewRecord.java:53): version = the registry interval
    covering the event's position; broadcast range join, no stream shuffle."""
    env = accounts_changefeed(spark, sf_dir)
    ddl_pos = _max_pos(spark, sf_dir) // 2
    registry = spark.createDataFrame(
        [
            ("accounts", 1, '["id", "status", "balance"]', 0),
            ("accounts", 2, '["id", "status", "balance", "tier"]', ddl_pos),
        ],
        "table string, version int, columns_json string, valid_from_pos long",
    )
    out = attach_schema_version(env, registry)
    return out.select(
        F.col("source.pos").alias("pos"), "__schema_version", "__schema_columns"
    )


# ---------------------------------------------------------------------------
# T14 — geometry SMTs on WKB POINT columns
# ---------------------------------------------------------------------------
_XH = "substr(md5('x:' || CAST(event_id AS VARCHAR)), 1, 16)"
_YH = "substr(md5('y:' || CAST(event_id AS VARCHAR)), 1, 16)"


@register(
    "t14_geometry_swap",
    oracle=f"""
    SELECT event_id,
           '0101000000' || {_XH} || {_YH} AS wkb_hex,
           '0101000000' || {_YH} || {_XH} AS swapped_hex,
           to_base64(unhex('0101000000' || {_XH} || {_YH})) AS wkb_b64
    FROM events
    WHERE event_id % 20 = 0
    """,
)
def t14_geometry_swap(spark, sf_dir):
    """WKB POINT byte-level coordinate swap + re-encode
    (SwapGeometryCoordinates.java:33, GeometryFormatTransformer.java:30).
    Geometry stays an opaque binary column end-to-end — native
    substring/concat/hex/base64, nothing leaves the JVM."""
    from debezium_spark.sources.changefeed import _events

    ev = _events(spark, sf_dir).filter(F.col("event_id") % 20 == 0)
    xh = F.substring(F.md5(F.concat(F.lit("x:"), F.col("event_id").cast("string"))), 1, 16)
    yh = F.substring(F.md5(F.concat(F.lit("y:"), F.col("event_id").cast("string"))), 1, 16)
    pts = ev.select(
        "event_id", point_wkb_from_hex_coords(xh, yh).alias("wkb")
    )
    return pts.select(
        "event_id",
        geometry_format(F.col("wkb"), "hex").alias("wkb_hex"),
        geometry_format(swap_point_coordinates(F.col("wkb")), "hex").alias(
            "swapped_hex"
        ),
        geometry_format(F.col("wkb"), "base64").alias("wkb_b64"),
    )


# ---------------------------------------------------------------------------
# T14b — Circle / Line logical types (the PG geometric types with no WKB)
# ---------------------------------------------------------------------------
@register(
    "t14b_geometry_circle_line",
    oracle="""
    SELECT s_suppkey,
           s_acctbal AS cx,
           CAST(s_suppkey % 97 AS DOUBLE) AS cy,
           abs(s_acctbal) / 10 + 1 AS radius,
           (s_acctbal * s_acctbal
              + CAST(s_suppkey % 97 AS DOUBLE) * CAST(s_suppkey % 97 AS DOUBLE))
             <= ((abs(s_acctbal) / 10 + 1) * (abs(s_acctbal) / 10 + 1))
             AS contains_origin,
           CAST(s_suppkey % 53 AS DOUBLE) - CAST(s_suppkey % 97 AS DOUBLE)
             AS line_a,
           s_acctbal - CAST(s_nationkey AS DOUBLE) AS line_b,
           CAST(s_nationkey AS DOUBLE) * CAST(s_suppkey % 97 AS DOUBLE)
              - s_acctbal * CAST(s_suppkey % 53 AS DOUBLE) AS line_c
    FROM supplier
    """,
)
def t14b_geometry_circle_line(spark, sf_dir):
    """Circle and Line logical values (Circle.java:24-67 struct{center,radius};
    Line.java:24-66 struct{a,b,c} for Ax+By+C=0) built from numeric columns,
    then consumed: PG `circle @> point` as a squared-distance predicate and
    the two-point line constructor normalized to coefficients. All expression
    -level arithmetic — stays in whole-stage codegen, no UDF, no shuffle."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    cx = F.col("s_acctbal")
    cy = (F.col("s_suppkey") % 97).cast("double")
    radius = F.abs(F.col("s_acctbal")) / 10 + 1
    circ = circle_struct(cx, cy, radius)
    line = line_through_points(
        cx, cy, F.col("s_nationkey").cast("double"), (F.col("s_suppkey") % 53).cast("double")
    )
    out = sup.select(
        "s_suppkey",
        circ.alias("circle"),
        line.alias("line"),
    )
    return out.select(
        "s_suppkey",
        F.col("circle.center.x").alias("cx"),
        F.col("circle.center.y").alias("cy"),
        F.col("circle.radius").alias("radius"),
        circle_contains_point(F.col("circle"), F.lit(0.0), F.lit(0.0)).alias(
            "contains_origin"
        ),
        F.col("line.a").alias("line_a"),
        F.col("line.b").alias("line_b"),
        F.col("line.c").alias("line_c"),
    )


# ---------------------------------------------------------------------------
# T15 — VectorToJsonConverter (round-trip fidelity, portable compare)
# ---------------------------------------------------------------------------
@register(
    "t15_vector_to_json",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS n,
           array_to_string(list_transform(embedding,
               x -> printf('%.4f', CAST(x AS DOUBLE))), ',') AS vals
    FROM embeddings
    """,
)
def t15_vector_to_json(spark, sf_dir):
    """T15 serializes the vector to JSON (VectorToJsonConverter.java:48);
    fidelity is checked by parsing the JSON back and formatting the values
    portably (engine JSON float spellings differ; the parsed values must
    not)."""
    from debezium_spark.operators.misc import vector_to_json

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    js = vector_to_json(emb, "embedding", out_col="vec_json")
    parsed = F.from_json(F.col("vec_json"), T.ArrayType(T.FloatType()))
    return js.select(
        "vec_id",
        F.size(parsed).cast("long").alias("n"),
        F.concat_ws(
            ",",
            F.transform(parsed, lambda x: F.format_string("%.4f", x.cast("double"))),
        ).alias("vals"),
    )


# ---------------------------------------------------------------------------
# T19 — custom converters SPI
# ---------------------------------------------------------------------------
@register(
    "t19_custom_converters",
    oracle="""
    SELECT o_orderkey,
           CAST(o_custkey % 2 AS INT) = 1 AS vip_flag,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           o_totalprice
    FROM orders
    """,
)
def t19_custom_converters(spark, sf_dir):
    """Column-level converter rules folded into one projection
    (CustomConverter.java:18,48; TinyIntOneToBooleanConverter,
    ZeroDateFallbackConverter)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 2).cast("int").alias("vip_flag"),
        F.col("o_orderdate").alias("order_date"),
        "o_totalprice",
    )
    out = apply_custom_converters(
        df,
        {
            "vip_flag": tinyint_one_to_boolean(F.col("vip_flag")),
            "order_date": zero_date_fallback(F.col("order_date")),
        },
    )
    # Dates hash-compare as strings (pandas date vs duckdb datetime64 repr).
    return out.withColumn(
        "order_date", F.date_format("order_date", "yyyy-MM-dd")
    )


# ---------------------------------------------------------------------------
# S6 — snapshot-mode policy matrix
# ---------------------------------------------------------------------------
@register(
    "s6_snapshot_modes",
    oracle="""
    SELECT * FROM (VALUES
      ('always',      false, false, true),  ('always',      false, true, true),
      ('always',      true,  false, true),  ('always',      true,  true, true),
      ('initial',     false, false, true),  ('initial',     false, true, true),
      ('initial',     true,  false, false), ('initial',     true,  true, false),
      ('no_data',     false, false, false), ('no_data',     false, true, false),
      ('no_data',     true,  false, false), ('no_data',     true,  true, false),
      ('when_needed', false, false, true),  ('when_needed', false, true, true),
      ('when_needed', true,  false, true),  ('when_needed', true,  true, false)
    ) AS t(mode, checkpoint_exists, data_exists, snapshots)
    """,
)
def s6_snapshot_modes(spark, sf_dir):
    """The Snapshotter SPI decision table (snapshot/mode/*.java,
    debezium-api/.../spi/snapshot/Snapshotter.java:28-56), evaluated through
    the real policy function against the hand-written truth table."""
    rows = [
        (mode, ckpt, data, should_snapshot(mode, ckpt, data))
        for mode in ("always", "initial", "no_data", "when_needed")
        for ckpt in (False, True)
        for data in (False, True)
    ]
    return spark.createDataFrame(
        rows,
        "mode string, checkpoint_exists boolean, data_exists boolean, snapshots boolean",
    )


# ---------------------------------------------------------------------------
# S12 — snapshot SELECT overrides
# ---------------------------------------------------------------------------
@register(
    "s12_snapshot_override",
    oracle="""
    SELECT o_orderkey AS id, o_totalprice AS total, 'r' AS op
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def s12_snapshot_override(spark, sf_dir):
    """Per-table custom snapshot SELECT
    (RelationalSnapshotChangeEventSource.java:562,591): the override is a
    projection+predicate pushed into the scan; rows still emit as op='r'
    envelopes."""
    from debezium_spark.envelope import wrap_snapshot

    sel = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .select(
            F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("total")
        )
    )
    env = wrap_snapshot(sel, ["id"], db="testdb", table="orders_override")
    return env.select(F.col("after.id").alias("id"),
                      F.col("after.total").alias("total"), "op")


# ---------------------------------------------------------------------------
# K6 — sink schema evolution (column add mid-stream)
# ---------------------------------------------------------------------------
@register(
    "k6_schema_evolution",
    oracle=f"""
    WITH {CHANGES_CTE}, {SNAPSHOT_CTE},
    latest AS (
        SELECT id,
               CASE WHEN op = 'd' THEN NULL ELSE status END AS status,
               CASE WHEN op = 'd' THEN NULL ELSE balance END AS balance,
               CASE WHEN op = 'd' OR pos < {DDL_POS_SQL} THEN NULL
                    ELSE upper(substr(status, 1, 1)) END AS tier,
               pos, op
        FROM changes
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pos DESC) = 1
    )
    SELECT id, status, balance, CAST(NULL AS VARCHAR) AS tier
    FROM snap ANTI JOIN latest USING (id)
    UNION ALL
    SELECT id, status, balance, tier FROM latest WHERE op <> 'd'
    """,
)
def k6_schema_evolution(spark, sf_dir):
    """Schema evolution `basic` (JdbcSinkConnectorConfig.java:158-163,
    JdbcChangeEventSink.java:195-238): events after the DDL position carry a
    new `tier` field; the sink adds the column as nullable and earlier rows
    (and the snapshot) read NULL."""
    env = accounts_changefeed(spark, sf_dir)
    ddl_pos = _max_pos(spark, sf_dir) // 2
    evolved = env.withColumn(
        "after",
        F.when(
            F.col("after").isNotNull(),
            F.col("after").withField(
                "tier",
                F.when(
                    F.col("source.pos") >= ddl_pos,
                    F.upper(F.substring(F.col("after.status"), 1, 1)),
                ),
            ),
        ),
    ).withColumn(
        # The before image evolves too (same physical row schema).
        "before",
        F.when(
            F.col("before").isNotNull(),
            F.col("before").withField("tier", F.lit(None).cast("string")),
        ),
    )
    target = extract_new_record_state(
        accounts_snapshot(spark, sf_dir), delete_handling="drop"
    )
    # K6 evolution step: add the missing optional column to the target.
    target = target.withColumn("tier", F.lit(None).cast("string"))
    return merge_changes(target, evolved, ["id"], insert_mode="upsert")


# ---------------------------------------------------------------------------
# F1 — CloudEvents envelope round-trip
# ---------------------------------------------------------------------------
@register(
    "f1_cloudevents_roundtrip",
    oracle=f"""
    WITH {CHANGES_CTE}
    SELECT pos,
           'name:testdb.accounts;pos:' || CAST(pos AS VARCHAR) AS ce_id,
           'io.debezium.accounts.datachangeevent' AS ce_type,
           strftime(make_timestamp(ts_ms * 1000), '%Y-%m-%dT%H:%M:%S.%fZ') AS ce_time,
           op AS ce_op,
           CASE WHEN op = 'd' THEN NULL ELSE id END AS data_id,
           CASE WHEN op = 'd' THEN NULL ELSE status END AS data_status,
           CASE WHEN op = 'd' THEN NULL ELSE balance END AS data_balance
    FROM (
        SELECT c.id, c.status, c.balance, c.pos, c.op,
               epoch_ms(CAST(e.ts AS TIMESTAMP)) AS ts_ms
        FROM changes c JOIN events e ON e.event_id = c.pos
    )
    """,
)
def f1_cloudevents_roundtrip(spark, sf_dir):
    """CloudEvents wrap → JSON → parse back (CloudEventsConverter.java):
    the consume side must recover id/type/time/op and the full data payload
    from the serialized text alone."""
    env = accounts_changefeed(spark, sf_dir)
    ser = to_cloudevents_json(env)
    parsed = from_cloudevents_json(
        ser.select(F.col("source.pos").alias("pos"), "cloudevent_json"),
        env.schema["after"].dataType,
    )
    return parsed.select(
        "pos",
        F.col("cloudevent.id").alias("ce_id"),
        F.col("cloudevent.type").alias("ce_type"),
        F.col("cloudevent.time").alias("ce_time"),
        F.col("cloudevent.iodebeziumop").alias("ce_op"),
        F.col("cloudevent.data.id").alias("data_id"),
        F.col("cloudevent.data.status").alias("data_status"),
        F.col("cloudevent.data.balance").alias("data_balance"),
    )


# ---------------------------------------------------------------------------
# S4 — read-only incremental snapshot (watermark = observed position fence)
# ---------------------------------------------------------------------------
@register(
    "s4_readonly_incremental",
    oracle=f"""
    WITH {CHANGES_CTE}, {SNAPSHOT_CTE},
    w AS (SELECT * FROM changes WHERE pos <= {WATERMARK_POS_SQL}),
    latest AS (
        SELECT id,
               CASE WHEN op = 'd' THEN NULL ELSE status END AS status,
               CASE WHEN op = 'd' THEN NULL ELSE balance END AS balance,
               op
        FROM w
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pos DESC) = 1
    )
    SELECT id, status, balance FROM snap ANTI JOIN latest USING (id)
    UNION ALL
    SELECT id, status, balance FROM latest WHERE op <> 'd'
    """,
)
def s4_readonly_incremental(spark, sf_dir):
    """S4 (BinlogReadOnlyIncrementalSnapshotChangeEventSource.java:116-175):
    watermarks are observed-position fences, not signal-table writes — the
    dedup window is every change at pos <= watermark; chunk rows for those
    keys are evicted (stream wins), matching the GTID-set variant."""
    from debezium_spark.operators.incremental import incremental_snapshot

    env = accounts_changefeed(spark, sf_dir)
    watermark_pos = _max_pos(spark, sf_dir) // 2
    flat = env.filter(F.col("source.pos") <= watermark_pos).select(
        F.col("key.id").alias("id"),
        F.col("after.status").alias("status"),
        F.col("after.balance").alias("balance"),
        "op",
        F.col("source.pos").alias("pos"),
    )
    from debezium_spark.suite.cdc import _snapshot_flat

    return incremental_snapshot(_snapshot_flat(spark, sf_dir), flat, ["id"])


# ---------------------------------------------------------------------------
# S30 — read-only incremental snapshot with GTID-SET watermarks across a
# server failover (GtidSet.java:15-61 algebra;
# BinlogReadOnlyIncrementalSnapshotChangeEventSource.java:116-175;
# MySqlReadOnlyIncrementalSnapshotContext.setHighWatermark subtract).
# ---------------------------------------------------------------------------
# Fences at 0.3 / 0.5 / 0.7 of max(pos): the @@gtid_executed reads at
# chunk-window open/close, with the failover (server_uuid change, txids
# restarting at 1) strictly inside the window at EVERY scale factor.
_UUID_A = "aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"
_UUID_B = "bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb"


@register(
    "s30_gtidset_readonly_snapshot",
    oracle=f"""
    WITH {CHANGES_CTE}, {SNAPSHOT_CTE},
    w AS (SELECT * FROM changes
          WHERE pos > {GTID_OPEN_POS_SQL} AND pos <= {GTID_CLOSE_POS_SQL}),
    latest AS (
        SELECT id,
               CASE WHEN op = 'd' THEN NULL ELSE status END AS status,
               CASE WHEN op = 'd' THEN NULL ELSE balance END AS balance,
               op
        FROM w
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY pos DESC) = 1
    )
    SELECT id, status, balance FROM snap ANTI JOIN latest USING (id)
    UNION ALL
    SELECT id, status, balance FROM latest WHERE op <> 'd'
    """,
)
def s30_gtidset_readonly_snapshot(spark, sf_dir):
    """S4's missing half: the chunk-dedup window is decided by GTID-SET
    CONTAINMENT, not a scalar fence — and the fixture forces the case
    scalars provably get wrong: a failover inside the window (server_uuid
    A -> B at half of max(pos), transaction ids restarting at 1).

    The Spark path derives everything through the real algebra: two
    bounded reads of the simulated @@gtid_executed (per-uuid max txid —
    2-row collects, the same budget the reference's offset context
    holds), high = close.subtract(open) (setHighWatermark), failover
    detected via has_server_identifier_changed (-> the reference
    re-reads the chunk), and window membership rendered as a literal
    interval predicate over (uuid, txid) — join-free, rides the scan.
    The oracle states the window as the equivalent pos range, so any
    off-by-one in the interval algebra breaks the hash."""
    from debezium_spark.operators.incremental import incremental_snapshot
    from debezium_spark.sources.gtid import (
        GtidSet,
        ReadOnlyWindow,
        gtid_membership_predicate,
    )
    from debezium_spark.suite.cdc import _snapshot_flat

    env = accounts_changefeed(spark, sf_dir)
    mx = _max_pos(spark, sf_dir)
    gtid_open_pos = (mx * 3) // 10
    gtid_split_pos = mx // 2
    gtid_close_pos = (mx * 7) // 10
    flat = env.select(
        F.col("key.id").alias("id"),
        F.col("after.status").alias("status"),
        F.col("after.balance").alias("balance"),
        "op",
        F.col("source.pos").alias("pos"),
    ).withColumn(
        "g_uuid",
        F.when(F.col("pos") < gtid_split_pos, F.lit(_UUID_A))
        .otherwise(F.lit(_UUID_B)),
    ).withColumn(
        "g_txid",
        F.when(F.col("pos") < gtid_split_pos, F.col("pos"))
        .otherwise(F.col("pos") - gtid_split_pos + 1),
    )

    def executed_at(fence_pos: int) -> GtidSet:
        # the simulated `SHOW MASTER STATUS` read: per-uuid max txid,
        # a <=2-row agg (gtid_executed is contiguous from 1 per server)
        rows = (
            flat.filter(F.col("pos") <= fence_pos)
            .groupBy("g_uuid").agg(F.max("g_txid").alias("mx"))
            .collect()
        )
        return GtidSet.of({r["g_uuid"]: [(1, int(r["mx"]))] for r in rows})

    window = ReadOnlyWindow()
    window.open(executed_at(gtid_open_pos))
    window.close(executed_at(gtid_close_pos))
    if not window.has_server_identifier_changed():
        raise ValueError(
            "fixture must span the failover: the high watermark should "
            "carry both server uuids"
        )
    in_window = flat.filter(
        gtid_membership_predicate(
            window.high, F.col("g_uuid"), F.col("g_txid")
        )
    ).drop("g_uuid", "g_txid")
    return incremental_snapshot(
        _snapshot_flat(spark, sf_dir), in_window, ["id"]
    )


# ---------------------------------------------------------------------------
# S9 — LogMiner-style commit-ordered emission
# ---------------------------------------------------------------------------
@register(
    "s9_commit_ordered",
    oracle=f"""
    WITH {CHANGES_CTE}
    SELECT pos, tx_id,
           max(pos) OVER (PARTITION BY tx_id) AS commit_pos,
           CAST(row_number() OVER (PARTITION BY tx_id ORDER BY pos)
                AS INT) AS seq_in_tx
    FROM changes
    """,
)
def s9_commit_ordered(spark, sf_dir):
    """S9 buffered emission (BufferedLogMinerStreamingChangeEventSource):
    events buffer per transaction and emit at COMMIT, ordered by commit
    position then intra-tx order. Spark shape: two windows on the tx key —
    one shuffle; total emission order is (commit_pos, pos) without a global
    rank (which would serialize through one partition)."""
    from pyspark.sql import Window

    env = accounts_changefeed(spark, sf_dir)
    base = env.select(
        F.col("source.pos").alias("pos"), F.col("source.tx_id").alias("tx_id")
    )
    wtx = Window.partitionBy("tx_id")
    worder = Window.partitionBy("tx_id").orderBy("pos")
    return base.select(
        "pos",
        "tx_id",
        F.max("pos").over(wtx).alias("commit_pos"),
        F.row_number().over(worder).alias("seq_in_tx"),
    )


# ---------------------------------------------------------------------------
# S10 — LSN-windowed CDC polling
# ---------------------------------------------------------------------------
@register(
    "s10_lsn_window_poll",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE event_id > 2000 AND event_id <= 4000
    """,
)
def s10_lsn_window_poll(spark, sf_dir):
    """One CDC poll window (SqlServerStreamingChangeEventSource.java:69):
    half-open (low, high] position predicate, pushed into the scan."""
    from debezium_spark.sources.changefeed import _events
    from debezium_spark.sources.polling import window_read

    ev = _events(spark, sf_dir)
    return window_read(ev, "event_id", 2000, 4000).select(
        "event_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# K7 — collection naming strategies
# ---------------------------------------------------------------------------
@register(
    "k7_naming_strategy",
    oracle="""
    SELECT * FROM (VALUES
      ('server1.testdb.accounts',
       'sink_server1_testdb_accounts',
       'server1_testdb_accounts',
       'SERVER1_TESTDB_ACCOUNTS'),
      ('server1.testdb.OrderLines',
       'sink_server1_testdb_OrderLines',
       'server1_testdb_order_lines',
       'SERVER1_TESTDB_ORDERLINES'),
      ('plain',
       'sink_plain',
       'plain',
       'PLAIN')
    ) AS t(topic, fmt_name, snake_name, upper_name)
    """,
)
def k7_naming_strategy(spark, sf_dir):
    """DefaultCollectionNamingStrategy: format templating + dot replacement
    + case styles, evaluated through the real Column expressions."""
    from debezium_spark.sinks.naming import collection_name

    topics = spark.createDataFrame(
        [("server1.testdb.accounts",), ("server1.testdb.OrderLines",),
         ("plain",)],
        "topic string",
    )
    return topics.select(
        "topic",
        collection_name(F.col("topic"), fmt="sink_${topic}").alias("fmt_name"),
        collection_name(F.col("topic"), style="snake").alias("snake_name"),
        collection_name(F.col("topic"), style="upper").alias("upper_name"),
    )


# ---------------------------------------------------------------------------
# H1 — §1.3 value-handling modes (decimal / binary / temporal)
# ---------------------------------------------------------------------------
@register(
    "h1_handling_modes",
    oracle="""
    SELECT event_id,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS dec_double,
           CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS dec_string,
           to_base64(unhex(substr(md5(CAST(event_id AS VARCHAR)), 1, 16))) AS bin_b64,
           substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS bin_hex,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_micro,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_iso,
           epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ts_connect
    FROM events
    WHERE event_id % 10 = 0
    """,
)
def h1_handling_modes(spark, sf_dir):
    """DecimalHandlingMode / BinaryHandlingMode / TemporalPrecisionMode as
    decode-projection casts (the JdbcValueConverters dispatch collapsed,
    SURVEY §1.3)."""
    from debezium_spark.operators.handling import (
        binary_mode,
        decimal_mode,
        temporal_mode,
    )
    from debezium_spark.sources.changefeed import _events

    ev = _events(spark, sf_dir).filter(F.col("event_id") % 10 == 0)
    blob = F.unhex(F.substring(F.md5(F.col("event_id").cast("string")), 1, 16))
    ts_us = F.expr("ts div 1000")
    return ev.select(
        "event_id",
        decimal_mode(F.col("value"), "double").alias("dec_double"),
        decimal_mode(F.col("value"), "string").alias("dec_string"),
        binary_mode(blob, "base64").alias("bin_b64"),
        binary_mode(blob, "hex").alias("bin_hex"),
        temporal_mode(ts_us, "microseconds").alias("ts_micro"),
        temporal_mode(ts_us, "isostring").alias("ts_iso"),
        temporal_mode(ts_us, "connect").alias("ts_connect"),
    )


# ---------------------------------------------------------------------------
# H2 — §1.2 table include/exclude filters on a multiplexed stream
# ---------------------------------------------------------------------------
@register(
    "h2_table_filters",
    oracle="""
    SELECT user_id AS id, event_id AS pos, 'accounts' AS tbl FROM events
    WHERE event_id % 3 != 0
    """,
)
def h2_table_filters(spark, sf_dir):
    """RelationalTableFilters: regex include/exclude over a multiplexed
    (multi-table) change stream; the filter applies before any wide op."""
    from debezium_spark.operators.handling import table_include_exclude
    from debezium_spark.sources.changefeed import _events

    ev = _events(spark, sf_dir)
    # Multiplexed stand-in: route a third of events to an 'audit' table.
    muxed = ev.select(
        F.col("user_id").alias("id"),
        F.col("event_id").alias("pos"),
        F.when(F.col("event_id") % 3 == 0, "audit_log")
        .otherwise("accounts")
        .alias("tbl"),
    )
    return table_include_exclude(
        muxed, table_col="tbl", include="^acc.*", exclude="audit.*"
    )


# ---------------------------------------------------------------------------
# S7 — binlog event dispatch table
# ---------------------------------------------------------------------------
@register(
    "s7_binlog_dispatch",
    oracle="""
    WITH raw AS (
        SELECT event_id,
               CASE event_type WHEN 'signup' THEN 'WRITE_ROWS'
                               WHEN 'error' THEN 'DELETE_ROWS'
                               WHEN 'purchase' THEN 'UPDATE_ROWS'
                               WHEN 'click' THEN (CASE WHEN event_id % 50 = 0
                                                       THEN 'XID' ELSE 'UPDATE_ROWS' END)
                               ELSE (CASE WHEN event_id % 97 = 0 THEN 'QUERY'
                                          ELSE 'UPDATE_ROWS' END) END AS event_kind
        FROM events
    )
    SELECT event_id, event_kind,
           CASE event_kind WHEN 'WRITE_ROWS' THEN 'data'
                           WHEN 'UPDATE_ROWS' THEN 'data'
                           WHEN 'DELETE_ROWS' THEN 'data'
                           WHEN 'QUERY' THEN 'schema'
                           WHEN 'XID' THEN 'tx_commit'
                           ELSE 'skip' END AS route,
           CASE event_kind WHEN 'WRITE_ROWS' THEN 'c'
                           WHEN 'UPDATE_ROWS' THEN 'u'
                           WHEN 'DELETE_ROWS' THEN 'd' END AS op
    FROM raw
    """,
)
def s7_binlog_dispatch(spark, sf_dir):
    """The binlog handler dispatch table
    (BinlogStreamingChangeEventSource.java:201-222): raw event kinds
    synthesized from the feed, routed to data/schema/tx-commit streams with
    op codes — one scan feeds every route."""
    from debezium_spark.sources.changefeed import _events
    from debezium_spark.sources.decode import binlog_dispatch

    ev = _events(spark, sf_dir)
    raw = ev.select(
        "event_id",
        F.when(F.col("event_type") == "signup", "WRITE_ROWS")
        .when(F.col("event_type") == "error", "DELETE_ROWS")
        .when(F.col("event_type") == "purchase", "UPDATE_ROWS")
        .when(
            F.col("event_type") == "click",
            F.when(F.col("event_id") % 50 == 0, "XID").otherwise("UPDATE_ROWS"),
        )
        .otherwise(
            F.when(F.col("event_id") % 97 == 0, "QUERY").otherwise("UPDATE_ROWS")
        )
        .alias("event_kind"),
    )
    return binlog_dispatch(raw)


# ---------------------------------------------------------------------------
# S8 — pgoutput-style text message decode (round trip)
# ---------------------------------------------------------------------------
@register(
    "s8_pgoutput_decode",
    oracle="""
    SELECT event_id,
           CASE event_type WHEN 'signup' THEN 'I'
                           WHEN 'error' THEN 'D' ELSE 'U' END AS op_code,
           'accounts' AS "table",
           user_id AS id,
           event_type AS status,
           value AS balance
    FROM events
    """,
)
def s8_pgoutput_decode(spark, sf_dir):
    """Logical-decoding text messages round-tripped: the feed renders
    test-decoding-style lines, the decoder parses them back with one regexp
    projection (PgOutputMessageDecoder.java:84-113). Balance survives the
    text round trip because Spark renders doubles shortest-repr and casts
    them back exactly."""
    from debezium_spark.sources.changefeed import _events
    from debezium_spark.sources.decode import decode_pgoutput, format_pgoutput_line

    ev = _events(spark, sf_dir)
    msg = format_pgoutput_line(
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U"),
        F.lit("accounts"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    lines = ev.select("event_id", msg.alias("msg"))
    out = decode_pgoutput(lines)
    return out.select("event_id", "op_code", "table", "id", "status", "balance")


# ---------------------------------------------------------------------------
# S13 — snapshot-diff changefeed (bootstrap CDC from two table versions)
# ---------------------------------------------------------------------------
from debezium_spark.operators.diff import snapshot_diff  # noqa: E402
from debezium_spark.suite import register as _register_s13  # noqa: E402


@_register_s13(
    "s13_snapshot_diff",
    oracle="""
    WITH old_v AS (
        SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        FROM customer WHERE c_custkey % 7 != 0
    ),
    new_v AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 5 = 0
                    THEN CAST(c_acctbal AS DOUBLE) + 10.0
                    ELSE CAST(c_acctbal AS DOUBLE) END AS c_acctbal
        FROM customer WHERE c_custkey % 11 != 0
    )
    SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'c'
                WHEN n.c_custkey IS NULL THEN 'd'
                ELSE 'u' END AS op,
           o.c_acctbal AS before_acctbal,
           n.c_acctbal AS after_acctbal
    FROM old_v o FULL OUTER JOIN new_v n USING (c_custkey)
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
    """,
)
def s13_snapshot_diff(spark, sf_dir):
    """Two deterministic versions of `customer` (rows %7 missing from old
    = creates; rows %11 missing from new = deletes; %5 balance bump =
    updates) diffed into a changefeed (operators/diff.py)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double")
    )
    old_v = c.filter(F.col("c_custkey") % 7 != 0)
    new_v = c.filter(F.col("c_custkey") % 11 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 10.0
        ).otherwise(F.col("c_acctbal")),
    )
    d = snapshot_diff(old_v, new_v, ["c_custkey"])
    return d.select(
        "c_custkey",
        "op",
        F.col("before.c_acctbal").alias("before_acctbal"),
        F.col("after.c_acctbal").alias("after_acctbal"),
    )


# ---------------------------------------------------------------------------
# S11 — Mongo change-stream updateDescription (partial-update reconstruction)
# ---------------------------------------------------------------------------
@register(
    "s11_mongo_update_description",
    oracle="""
    WITH upd AS (
        SELECT user_id, 'status' AS f, event_type AS v, FALSE AS rm, event_id
        FROM events WHERE event_type IN ('signup', 'view')
        UNION ALL
        SELECT user_id, 'value',
               CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR), FALSE,
               event_id
        FROM events WHERE event_type IN ('signup', 'purchase')
        UNION ALL
        SELECT user_id, 'value', NULL, TRUE, event_id
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT user_id, 'k', json_extract_string(props, '$.k'), FALSE, event_id
        FROM events WHERE event_type IN ('signup', 'click')
    ),
    last AS (
        SELECT user_id, f,
               arg_max(v, event_id) AS v,
               arg_max(rm, event_id) AS rm
        FROM upd GROUP BY user_id, f
    )
    SELECT user_id, string_agg(f || '=' || v, ',' ORDER BY f) AS doc
    FROM last WHERE NOT rm GROUP BY user_id
    """,
)
def s11_mongo_update_description(spark, sf_dir):
    """Per-key document reconstruction from Mongo-style updateDescription
    patches ($set / $unset), folded last-wins in stream order — the
    change-stream semantics the reference's Mongo connector emits (see
    operators/document.py:mongo_update_description for the mapping)."""
    from debezium_spark.operators.document import mongo_update_description
    from debezium_spark.sources.changefeed import _events

    return mongo_update_description(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# H3 — io.debezium.time.* logical-type codecs (epoch days / µs-since-midnight
# / ZonedTimestamp ISO-8601 / Year / MicroDuration)
# ---------------------------------------------------------------------------
@register(
    "h3_temporal_logical_types",
    oracle="""
    SELECT o_orderkey,
           CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS epoch_days,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS roundtrip_date,
           CAST((o_orderkey % 86400) * 1000000 AS BIGINT) AS micro_time,
           strftime(o_orderdate + INTERVAL (o_orderkey % 86400) SECOND,
                    '%Y-%m-%dT%H:%M:%S.%fZ') AS zoned_ts,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
           CAST((o_orderkey % 86400) * 1000000 AS BIGINT) AS dur_us
    FROM orders
    """,
)
def h3_temporal_logical_types(spark, sf_dir):
    """The named temporal encodings of §1.3 (io.debezium.time.Date int32
    epoch days; MicroTime int64 µs since midnight; ZonedTimestamp ISO-8601
    text; Year int32; MicroDuration int64 µs) — encode and decode as pure
    column expressions over a constructed instant, checked against the
    oracle's independent arithmetic."""
    from debezium_spark.operators.handling import (
        date_from_epoch_days,
        epoch_days,
        micro_duration,
        micro_time,
        year_of,
        zoned_timestamp,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = F.to_date("o_orderdate")
    days = epoch_days(d)
    # Midnight-UTC instant + a deterministic intra-day offset: exercises the
    # sub-day codecs without depending on the fixture's (midnight) times.
    base = F.timestamp_micros(days.cast("long") * 86_400_000_000)
    ts2 = F.timestamp_micros(
        (days.cast("long") * 86_400 + F.col("o_orderkey") % 86_400)
        * F.lit(1_000_000)
    )
    return o.select(
        "o_orderkey",
        days.alias("epoch_days"),
        date_from_epoch_days(days).cast("string").alias("roundtrip_date"),
        micro_time(ts2).alias("micro_time"),
        zoned_timestamp(ts2).alias("zoned_ts"),
        year_of(d).alias("yr"),
        micro_duration(base, ts2).alias("dur_us"),
    )


# ---------------------------------------------------------------------------
# H4 — io.debezium.data.* special logical types (VariableScaleDecimal / Bits
# / Uuid / Enum)
# ---------------------------------------------------------------------------
@register(
    "h4_special_value_types",
    oracle="""
    SELECT o_orderkey,
           upper(printf('%016x', o_orderkey % 100000)) AS vsd_hex,
           CAST(o_orderkey % 5 AS INTEGER) AS vsd_scale,
           (o_orderkey % 100000) / power(10, o_orderkey % 5) AS vsd_value,
           upper(printf('%02x%02x',
                        (o_orderkey % 65536) % 256,
                        ((o_orderkey % 65536) // 256) % 256)) AS bits_hex,
           CAST(o_orderkey % 65536 AS BIGINT) AS bits_value,
           substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) || '-' ||
           substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 4) || '-' ||
           substr(md5(CAST(o_orderkey AS VARCHAR)), 13, 4) || '-' ||
           substr(md5(CAST(o_orderkey AS VARCHAR)), 17, 4) || '-' ||
           substr(md5(CAST(o_orderkey AS VARCHAR)), 21, 12) AS uuid,
           CASE WHEN o_orderstatus IN ('O', 'F')
                THEN o_orderstatus END AS status_enum
    FROM orders
    """,
)
def h4_special_value_types(spark, sf_dir):
    """§1.3 special logical types round-tripped: VariableScaleDecimal
    (struct{scale, BE unscaled bytes} encoded and decoded back to the
    numeric value), Bits (little-endian byte order proven by the hex
    rendering), canonical-format Uuid, and Enum allowed-set nulling —
    all pure column expressions (VariableScaleDecimal.java:25, Bits.java:22,
    Uuid.java:21, Enum.java:22)."""
    from debezium_spark.operators.handling import (
        bits_le,
        decode_bits_le,
        decode_variable_scale_decimal,
        enum_value,
        uuid_from_hash,
        variable_scale_decimal,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    vsd = variable_scale_decimal(
        F.col("o_orderkey") % 100000, F.col("o_orderkey") % 5
    )
    bits = bits_le(F.col("o_orderkey") % 65536)
    return o.select(
        "o_orderkey",
        F.hex(vsd["value"]).alias("vsd_hex"),
        vsd["scale"].alias("vsd_scale"),
        decode_variable_scale_decimal(vsd).alias("vsd_value"),
        F.hex(bits).alias("bits_hex"),
        decode_bits_le(bits).alias("bits_value"),
        uuid_from_hash(F.col("o_orderkey")).alias("uuid"),
        enum_value(F.col("o_orderstatus"), ("O", "F")).alias("status_enum"),
    )


@register(
    "t15b_sparse_vector_to_json",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter([
               {'i': 1, 'v': CAST(doc_id % 7 AS DOUBLE)},
               {'i': 3, 'v': CAST(doc_id % 5 AS DOUBLE) / 2},
               {'i': 6, 'v': CAST(doc_id % 3 AS DOUBLE)}
             ], p -> p.v != 0) AS pairs
      FROM documents
    )
    SELECT doc_id,
           '{ "dimensions": 8, "vector": { '
             || COALESCE(array_to_string(
                  list_transform(pairs,
                    p -> '"' || p.i::VARCHAR || '": ' || p.v::VARCHAR),
                  ', '), '')
             || ' } }' AS sv_json,
           CAST(len(pairs) AS BIGINT) AS n_entries
    FROM base
    """,
)
def t15b_sparse_vector_to_json(spark, sf_dir):
    """T15 sparse leg: SparseDoubleVector struct → the reference converter's
    exact JSON shape '{ "dimensions": D, "vector": { "i": v, ... } }'
    (VectorToJsonConverter.java:151-165, entries in ascending index order
    per its TreeMap). Fidelity is double-checked by counting the rendered
    entries against the struct's arity."""
    from debezium_spark.operators.handling import sparse_double_vector
    from debezium_spark.operators.misc import vector_to_json

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dense = F.array(
        (F.col("doc_id") % 7).cast("double"),
        F.lit(0.0),
        (F.col("doc_id") % 5).cast("double") / F.lit(2),
        F.lit(0.0),
        F.lit(0.0),
        (F.col("doc_id") % 3).cast("double"),
        F.lit(0.0),
        F.lit(0.0),
    )
    sv = d.select("doc_id", sparse_double_vector(dense, 8).alias("sv"))
    js = vector_to_json(sv, "sv", out_col="sv_json")
    return js.select(
        "doc_id",
        "sv_json",
        F.size(F.col("sv.indices")).cast("long").alias("n_entries"),
    )


# ---------------------------------------------------------------------------
# H5 — io.debezium.data vector/text-search logical types (SparseDoubleVector
# / TsVector) — closes the §1.3 type table
# ---------------------------------------------------------------------------
@register(
    "h5_vector_logical_types",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             list_filter([
               {'i': 1, 'v': CAST(doc_id % 7 AS DOUBLE)},
               {'i': 3, 'v': CAST(doc_id % 5 AS DOUBLE) / 2},
               {'i': 6, 'v': CAST(doc_id % 3 AS DOUBLE)}
             ], p -> p.v != 0) AS pairs
      FROM documents
    ),
    sparse AS (
      SELECT doc_id,
             '{' || COALESCE(array_to_string(
                 list_transform(pairs,
                                p -> p.i::VARCHAR || ':' || p.v::VARCHAR),
                 ','), '') || '}/8' AS sparse_str,
             CAST(8 AS INTEGER) AS dims,
             COALESCE(array_to_string(
               list_transform(pairs, p -> CAST(p.i AS INTEGER)::VARCHAR),
               ','), '') AS idx_str,
             COALESCE(array_to_string(
               list_transform(pairs, p -> p.v::VARCHAR), ','), '') AS val_str
      FROM base
    ),
    tok AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           t -> t != ''),
               (t, i) -> {'lex': t, 'pos': i}) AS pairs
      FROM base
    ),
    entries AS (
      SELECT doc_id, p.lex AS lex,
             string_agg(p.pos::VARCHAR, ',' ORDER BY p.pos) AS poss
      FROM (SELECT doc_id, unnest(pairs) AS p FROM tok)
      GROUP BY doc_id, p.lex
    ),
    tsv AS (
      SELECT doc_id,
             string_agg('''' || lex || ''':' || poss, ' ' ORDER BY lex)
               AS tsvec
      FROM entries GROUP BY doc_id
    )
    SELECT s.doc_id, s.sparse_str, s.dims, s.idx_str, s.val_str,
           COALESCE(t.tsvec, '') AS tsvec
    FROM sparse s LEFT JOIN tsv t USING (doc_id)
    """,
)
def h5_vector_logical_types(spark, sf_dir):
    """§1.3 vector + text-search logical types: a SparseDoubleVector built
    from a dense array (non-zero entries only), round-tripped through the
    reference's logical string format '{i1:v1,...}/dims' and parsed back
    (vector/SparseDoubleVector.java:26, vector/Vectors.java:42-86), plus a
    PostgreSQL tsvector string built from document text (data/TsVector.java:17)
    — all pure nested higher-order-function expressions, no UDF."""
    from debezium_spark.operators.handling import (
        parse_sparse_vector,
        sparse_double_vector,
        sparse_vector_to_string,
        ts_vector,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dense = F.array(
        (F.col("doc_id") % 7).cast("double"),
        F.lit(0.0),
        (F.col("doc_id") % 5).cast("double") / F.lit(2),
        F.lit(0.0),
        F.lit(0.0),
        (F.col("doc_id") % 3).cast("double"),
        F.lit(0.0),
        F.lit(0.0),
    )
    sv = sparse_double_vector(dense, 8)
    rt = parse_sparse_vector(sparse_vector_to_string(sv))
    return d.select(
        "doc_id",
        sparse_vector_to_string(sv).alias("sparse_str"),
        rt["dimensions"].alias("dims"),
        F.array_join(rt["indices"].cast("array<string>"), ",").alias("idx_str"),
        F.array_join(rt["values"].cast("array<string>"), ",").alias("val_str"),
        ts_vector(F.col("text")).alias("tsvec"),
    )


@register(
    "h6_interval_enum_set",
    oracle=r"""
    SELECT l_orderkey, l_linenumber,
           'P' || CAST(l_linenumber % 3 AS VARCHAR) || 'Y'
               || CAST(l_partkey % 12 AS VARCHAR) || 'M'
               || CAST(l_suppkey % 28 AS VARCHAR) || 'D'
               || 'T'
               || CAST(l_orderkey % 24 AS VARCHAR) || 'H'
               || CAST(l_partkey % 60 AS VARCHAR) || 'M'
               || regexp_replace(
                      regexp_replace(
                          CAST(CAST(l_quantity + l_linenumber / 4.0
                                    AS DECIMAL(12,3)) AS VARCHAR),
                          '(\.\d*?)0+$', '\1'),
                      '\.$', '')
               || 'S' AS interval_iso,
           CASE WHEN l_returnflag IN ('A', 'N', 'R', 'O')
                 AND l_linestatus IN ('A', 'N', 'R', 'O')
                THEN l_returnflag || ',' || l_linestatus END AS flags_set,
           epoch_us(CAST(l_shipdate AS TIMESTAMP)) * 1000 AS ship_ns,
           (epoch_us(make_timestamp(epoch_us(CAST(l_shipdate AS TIMESTAMP))
                                    + (l_orderkey % 86400) * 1000000))
            - epoch_us(date_trunc('day',
                  make_timestamp(epoch_us(CAST(l_shipdate AS TIMESTAMP))
                                 + (l_orderkey % 86400) * 1000000))))
               * 1000 AS t_ns
    FROM lineitem
    """,
)
def h6_interval_enum_set(spark, sf_dir):
    """§1.3 logical types, second batch: Interval's exact ISO-duration text
    (Interval.java:toIsoString — BigDecimal seconds with trailing zeros
    stripped; the l_linenumber/4 fractions are binary-exact so the decimal
    cast has no rounding ambiguity), EnumSet's comma-joined value with
    whole-set nulling on any disallowed member ('F' is deliberately
    outside the allowed set so both outcomes appear), and the nanosecond
    codecs NanoTimestamp (epoch ns) / NanoTime (ns of day, exercised on a
    derived timestamp with a nonzero time component)."""
    from debezium_spark.operators.handling import (
        enum_set_value,
        interval_iso,
        nano_time,
        nano_timestamp,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ship = F.col("l_shipdate").cast("timestamp")
    t2 = F.timestamp_micros(
        F.unix_micros(ship) + F.pmod(F.col("l_orderkey"), F.lit(86400)) * 1000000
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        interval_iso(
            F.pmod(F.col("l_linenumber"), F.lit(3)),
            F.pmod(F.col("l_partkey"), F.lit(12)),
            F.pmod(F.col("l_suppkey"), F.lit(28)),
            F.pmod(F.col("l_orderkey"), F.lit(24)),
            F.pmod(F.col("l_partkey"), F.lit(60)),
            (F.col("l_quantity") + F.col("l_linenumber") / F.lit(4.0)).cast(
                "decimal(12,3)"
            ),
        ).alias("interval_iso"),
        enum_set_value(
            F.array(F.col("l_returnflag"), F.col("l_linestatus")),
            ("A", "N", "R", "O"),
        ).alias("flags_set"),
        nano_timestamp(ship).alias("ship_ns"),
        nano_time(t2).alias("t_ns"),
    )


# ---------------------------------------------------------------------------
# S15 — composite-key chunked snapshot (exact rank chunking, 2 passes)
# ---------------------------------------------------------------------------
@register(
    "s15_composite_key_chunks",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor((rank() OVER (ORDER BY l_orderkey, l_linenumber)
                       - 1) / 8192) AS INT) AS chunk_id
    FROM lineitem
    """,
)
def s15_composite_key_chunks(spark, sf_dir):
    """S2/S3 for composite primary keys (order_line(order_id, line_no)
    style): exact chunk assignment over the lexicographic key order —
    chunk boundaries identical to the reference's sequential keyset walk
    (AbstractChunkQueryBuilder.java:49-119) but computed in two
    distributed passes (range repartition + per-partition row_number
    with collected offsets — never one global ordered window). Min-rank
    (SQL rank()) semantics keep duplicated keys in ONE chunk, so the
    assignment is deterministic even on non-unique key data (this
    synthetic lineitem repeats line numbers). The oracle is the
    definition itself: floor((rank()-1)/chunk_size) under
    ORDER BY (k1, k2)."""
    from debezium_spark.sources.keyset import exact_rank_chunks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = exact_rank_chunks(li, ["l_orderkey", "l_linenumber"], 8192)
    return out.select("l_orderkey", "l_linenumber", "chunk_id")


# ---------------------------------------------------------------------------
# S16 — string-key keyset chunk read (row-value predicate pushdown)
# ---------------------------------------------------------------------------
@register(
    "s16_string_keyset_chunk",
    oracle="""
    SELECT c_name, c_custkey, c_nationkey
    FROM customer
    WHERE (c_name > 'Customer#000000300'
           OR (c_name = 'Customer#000000300' AND c_custkey > 300))
      AND NOT (c_name > 'Customer#000000900'
           OR (c_name = 'Customer#000000900' AND c_custkey > 900))
    """,
)
def s16_string_keyset_chunk(spark, sf_dir):
    """One chunk of a NON-NUMERIC (string) keyset-paginated snapshot:
    rows with ('Customer#000000300', 300) < (c_name, c_custkey) <=
    ('Customer#000000900', 900) via the lexicographic row-value
    expansion (keyset_gt). The oracle uses DuckDB's native row-value
    comparison, so the expansion's correctness — including the
    tie-breaking equality chain — is verified value-for-value. The
    leading c_name > bound disjunct reaches the parquet scan as a
    pushed filter (plan-locked in tests/test_plans.py)."""
    from debezium_spark.sources.keyset import keyset_range

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.filter(
        keyset_range(
            ["c_name", "c_custkey"],
            ["Customer#000000300", 300],
            ["Customer#000000900", 900],
        )
    ).select("c_name", "c_custkey", "c_nationkey")


# ---------------------------------------------------------------------------
# S17 — DDL-text parsing into the schema history (binlog DDL events)
# ---------------------------------------------------------------------------
@register(
    "s17_ddl_schema_history",
    oracle="""
    WITH adds AS (
        SELECT event_id,
               row_number() OVER (ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'signup' AND event_id % 1000 = 0
    ),
    cum AS (
        SELECT event_id, rn,
               string_agg(',tier_' || CAST(event_id AS VARCHAR), '')
                   OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS added
        FROM adds
    )
    SELECT 'accounts' AS tbl, 1 AS version,
           'id,status,balance' AS cols_csv, CAST(0 AS BIGINT) AS pos
    UNION ALL
    SELECT 'accounts', CAST(rn + 1 AS INT),
           'id,status,balance' || added, CAST(event_id AS BIGINT)
    FROM cum
    """,
)
def s17_ddl_schema_history(spark, sf_dir):
    """DDL TEXT arriving in the log (the MySQL binlog shape): a
    deterministic DDL stream — CREATE TABLE at pos 0, then one
    ``ALTER TABLE .. ADD COLUMN tier_<id> INT`` per signup event with
    id % 1000 = 0 — is PARSED (schema/ddl.py's CREATE/ALTER subset;
    reference: MySqlParser.g4 + MySqlDatabaseSchema, descoped per SURVEY
    §7 step 6) and folded into versioned schema-history rows. The oracle
    rebuilds the expected history from the closed form, so the parser,
    the apply loop, and version/validity bookkeeping are all
    value-checked. DDL events are rare and strictly ordered — the fold is
    a driver-side loop by design (the reference parses DDL serially on
    the binlog reader thread too); the heavy side (resolving each
    record's schema version at 100 TB) stays the broadcast range join of
    T13."""
    from debezium_spark.schema.ddl import DdlSchemaTracker
    from debezium_spark.schema.history import MemorySchemaHistory

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    add_ids = [
        r["event_id"]
        for r in ev.filter(
            (F.col("event_type") == "signup") & (F.col("event_id") % 1000 == 0)
        )
        .select("event_id")
        .orderBy("event_id")
        .collect()
    ]
    hist = MemorySchemaHistory(spark)
    trk = DdlSchemaTracker(hist)
    trk.apply(
        "CREATE TABLE accounts (id BIGINT PRIMARY KEY, "
        "status VARCHAR(16), balance DOUBLE)",
        pos=0,
    )
    for eid in add_ids:
        trk.apply(
            f"ALTER TABLE accounts ADD COLUMN tier_{eid} INT", pos=int(eid)
        )
    return hist.recover().select(
        F.col("table").alias("tbl"),
        "version",
        F.array_join(F.from_json("columns_json", "array<string>"), ",").alias(
            "cols_csv"
        ),
        F.col("valid_from_pos").alias("pos"),
    )


# ---------------------------------------------------------------------------
# S8 (real wire format): binary pgoutput decode
# ---------------------------------------------------------------------------
_PG_RELID = 16385
_PG_COLS = [  # (flags, name, type_oid, atttypmod): id is the key; int8/text/numeric/text
    (1, "id", 20, -1),
    (0, "status", 25, -1),
    (0, "balance", 1700, 655366),
    (0, "note", 25, -1),
]


def _pgoutput_fixture_stream(spark, sf_dir, key_by_user: bool = False):
    """A deterministic binary pgoutput stream derived from the events
    table — REAL protocol bytes (tests/test_pgoutput.py pins the byte
    layout against PgOutputMessageDecoder.java's reads): one RELATION
    message, then per 50-event group a BEGIN (carrying the tx's final
    LSN, commit micros, xid) + data messages + COMMIT. Ops cycle by
    event_id % 4 (insert/update-with-old-key/delete/insert); note is
    NULL on every 5th insert and an unchanged-TOAST 'u' cell on every
    5th update. Encoding runs in the same Arrow-batched shape as the
    decode kernel — the fixture scales with sf, nothing collects.
    ``key_by_user=True`` keys the tuples on user_id instead of event_id,
    giving every key a multi-op history (the MERGE-materialization
    fixture); default keys on event_id (unique per message)."""
    import math

    import pandas as pd

    from debezium_spark.sources.pgoutput import (
        encode_begin,
        encode_commit,
        encode_delete,
        encode_insert,
        encode_relation,
        encode_update,
    )

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def enc_data(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for e, u, t, v in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"],
                pdf["value"],
            ):
                e, u = int(e), int(u)
                kv = u if key_by_user else e
                g = e // 50
                bal = str(math.floor(float(v) * 100))
                note = (
                    ("n", None) if e % 5 == 0 else ("t", f"n_{u}")
                )
                if e % 4 == 1:
                    after = [
                        ("t", str(kv)), ("t", f"{t}_u"), ("t", bal),
                        ("u", None) if e % 5 == 0 else ("t", f"n_{u}"),
                    ]
                    key = [("t", str(kv)), ("n", None), ("n", None),
                           ("n", None)]
                    msg = encode_update(_PG_RELID, after, key, "K")
                elif e % 4 == 2:
                    key = [("t", str(kv)), ("n", None), ("n", None),
                           ("n", None)]
                    msg = encode_delete(_PG_RELID, key, "K")
                else:
                    after = [("t", str(kv)), ("t", t), ("t", bal), note]
                    msg = encode_insert(_PG_RELID, after)
                lsns.append(g * 1000 + 2 + e % 50)
                msgs.append(msg)
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    data = ev.mapInPandas(enc_data, "lsn long, msg binary")

    def enc_tx(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for g in pdf["g"]:
                g = int(g)
                ts = (g + 1) * 1_000_000
                lsns.append(g * 1000 + 1)
                msgs.append(encode_begin(g * 1000 + 999, ts, 1000 + g))
                lsns.append(g * 1000 + 999)
                msgs.append(
                    encode_commit(g * 1000 + 999, g * 1000 + 999, ts)
                )
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    tx = (
        ev.select(F.expr("event_id DIV 50").alias("g"))
        .distinct()
        .mapInPandas(enc_tx, "lsn long, msg binary")
    )
    rel = spark.createDataFrame(
        [(0, bytearray(encode_relation(_PG_RELID, "public", "accounts",
                                       _PG_COLS)))],
        "lsn long, msg binary",
    )
    # Materialize the fixture once: the decoder walks the stream twice
    # (control-plane collect + data kernel) and a real deployment reads
    # an already-written log, not a recomputed one.
    return _materialize_stream(spark, rel.unionByName(tx).unionByName(data), sf_dir)


@register(
    "s18_pgoutput_binary_decode",
    oracle="""
    SELECT (event_id // 50) * 1000 + 2 + (event_id % 50) AS lsn,
           CASE WHEN event_id % 4 = 1 THEN 'u'
                WHEN event_id % 4 = 2 THEN 'd' ELSE 'c' END AS op,
           'public' AS sch, 'accounts' AS tbl,
           1000 + (event_id // 50) AS xid,
           ((event_id // 50) + 1) * 1000000 AS commit_ts_us,
           event_id AS id,
           CASE WHEN event_id % 4 = 2 THEN NULL
                WHEN event_id % 4 = 1 THEN event_type || '_u'
                ELSE event_type END AS status,
           CASE WHEN event_id % 4 = 2 THEN NULL
                ELSE CAST(floor(value * 100) AS BIGINT) END AS balance_cents,
           CASE WHEN event_id % 4 = 2 THEN NULL
                WHEN event_id % 4 = 1 AND event_id % 5 = 0 THEN '__toast__'
                WHEN event_id % 5 = 0 THEN NULL
                ELSE 'n_' || CAST(user_id AS VARCHAR) END AS note
    FROM events
    """,
)
def s18_pgoutput_binary_decode(spark, sf_dir):
    """S8's REAL protocol: binary pgoutput messages (Relation/Begin/
    Commit/Insert/Update/Delete with 't'/'n'/'u' tuple cells, old-key 'K'
    tuples, unchanged-TOAST columns) round-tripped through the wire
    encoder and the Arrow-batched decoder
    (PgOutputMessageDecoder.java:84-113,756-820). The oracle rebuilds
    every decoded field — op, table naming via the relation registry,
    xid/commit micros via the BEGIN-interval attach, values, NULL cells,
    TOAST markers — from the closed-form fixture derivation, so the byte
    encode, the parse, the relation-version naming, and the BEGIN-interval
    tx stamp are all value-checked end-to-end."""
    from debezium_spark.sources.pgoutput import decode_pgoutput_binary

    stream = _pgoutput_fixture_stream(spark, sf_dir)
    dec = decode_pgoutput_binary(spark, stream)
    after = F.col("after")
    return dec.select(
        "lsn",
        "op",
        F.col("schema").alias("sch"),
        F.col("table").alias("tbl"),
        "xid",
        "commit_ts_us",
        F.coalesce(after["id"], F.col("before")["id"]).cast("long").alias(
            "id"
        ),
        after["status"].alias("status"),
        after["balance"].cast("long").alias("balance_cents"),
        F.when(
            F.array_contains(F.col("after_toasted"), "note"),
            F.lit("__toast__"),
        )
        .otherwise(after["note"])
        .alias("note"),
    )


# ---------------------------------------------------------------------------
# S7 (real wire format): binlog event decode
# ---------------------------------------------------------------------------
def _binlog_fixture_stream(spark, sf_dir):
    """A deterministic binary binlog stream from the events table — real
    v4 event layout (19-byte little-endian headers, TABLE_MAP metadata,
    v2 rows events with present/null bitmaps, QUERY BEGIN + XID tx
    markers). Ops cycle by event_id % 4 like the pgoutput fixture but the
    column slice differs (LONGLONG/VARCHAR/DOUBLE) so the value walk —
    length-prefixed strings, IEEE doubles, null-bitmap skips — is
    genuinely exercised. Encoding is Arrow-batched and scales with sf."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        DELETE_ROWS_EVENT,
        TYPE_DOUBLE,
        TYPE_LONGLONG,
        TYPE_VARCHAR,
        UPDATE_ROWS_EVENT,
        WRITE_ROWS_EVENT,
        encode_query,
        encode_rows_event,
        encode_table_map,
        encode_xid,
    )

    TID = 313
    TYPES = [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE, TYPE_VARCHAR]
    METAS = [0, 64, 8, 300]  # note VARCHAR(300): 2-byte length prefix path

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def enc_data(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e, u, t, v in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"],
                pdf["value"],
            ):
                e, u, v = int(e), int(u), float(v)
                pos = 1000 + e * 100
                note = None if e % 5 == 0 else f"n_{u}"
                old_note = None if e % 7 == 0 else f"o_{u}"
                if e % 4 == 1:
                    msg = encode_rows_event(
                        UPDATE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": [e, t, v, old_note],
                          "after": [e, f"{t}_u", v, note]}],
                        log_pos=pos,
                    )
                elif e % 4 == 2:
                    msg = encode_rows_event(
                        DELETE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": [e, t, v, old_note], "after": None}],
                        log_pos=pos,
                    )
                else:
                    msg = encode_rows_event(
                        WRITE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": None, "after": [e, t, v, note]}],
                        log_pos=pos,
                    )
                poss.append(pos)
                msgs.append(msg)
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc_data, "pos long, msg binary")

    def enc_tx(batches):
        for pdf in batches:
            poss, msgs = [], []
            for g in pdf["g"]:
                g = int(g)
                poss.append(g * 5000 + 1)
                msgs.append(
                    encode_query("inventory", "BEGIN", log_pos=g * 5000 + 1)
                )
                poss.append((g + 1) * 5000)
                msgs.append(encode_xid(7000 + g, log_pos=(g + 1) * 5000))
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    tx = (
        ev.select(F.expr("event_id DIV 50").alias("g"))
        .distinct()
        .mapInPandas(enc_tx, "pos long, msg binary")
    )
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "products", TYPES, METAS,
            [False, False, False, True], log_pos=0,
        )))],
        "pos long, msg binary",
    )
    # Materialized for the same reason as the pgoutput fixture: the
    # TABLE_MAP registry scan and the rows decode both read the stream.
    return _materialize_stream(spark, rel.unionByName(tx).unionByName(data), sf_dir)


@register(
    "s19_binlog_binary_decode",
    oracle="""
    SELECT 1000 + event_id * 100 AS pos,
           CASE WHEN event_id % 4 = 1 THEN 'u'
                WHEN event_id % 4 = 2 THEN 'd' ELSE 'c' END AS op,
           'inventory' AS db, 'products' AS tbl,
           event_id AS id,
           CASE WHEN event_id % 4 = 2 THEN event_type
                WHEN event_id % 4 = 1 THEN event_type || '_u'
                ELSE event_type END AS status,
           value AS val,
           CASE WHEN event_id % 4 = 2
                THEN CASE WHEN event_id % 7 = 0 THEN NULL
                          ELSE 'o_' || CAST(user_id AS VARCHAR) END
                ELSE CASE WHEN event_id % 5 = 0 THEN NULL
                          ELSE 'n_' || CAST(user_id AS VARCHAR) END
           END AS note,
           CASE WHEN event_id % 4 = 1
                THEN CASE WHEN event_id % 7 = 0 THEN NULL
                          ELSE 'o_' || CAST(user_id AS VARCHAR) END
           END AS old_note
    FROM events
    """,
)
def s19_binlog_binary_decode(spark, sf_dir):
    """S7's REAL event format: binlog v4 bytes (little-endian headers,
    TABLE_MAP column types/metadata/null bitmaps, v2 rows events with
    present + null bitmaps, 1- and 2-byte VARCHAR length prefixes, IEEE
    doubles) round-tripped through the encoder and the Arrow-batched
    decoder (dispatch per BinlogStreamingChangeEventSource.java:197-222;
    byte layout per the public binlog v4 spec the reference's
    deserializer library implements). The oracle rebuilds op, table
    naming via the TABLE_MAP registry, every value, the null-bitmap
    cells, and the update's old row image from the closed form. Deletes
    surface their full before image (binlog carries it; pgoutput's 'K'
    tuple does not) — exercising the opposite row-image path from s18."""
    from debezium_spark.sources.binlog import decode_binlog_rows

    stream = _binlog_fixture_stream(spark, sf_dir)
    dec = decode_binlog_rows(stream).filter(
        F.col("kind").isin("c", "u", "d")
    )
    img = F.when(F.col("kind") == "d", F.col("before")).otherwise(
        F.col("after")
    )
    nums = F.when(F.col("kind") == "d", F.col("before_nums")).otherwise(
        F.col("after_nums")
    )
    return dec.select(
        F.col("log_pos").alias("pos"),
        F.col("kind").alias("op"),
        F.col("schema").alias("db"),
        F.col("table").alias("tbl"),
        F.element_at(img, 1).cast("long").alias("id"),
        F.element_at(img, 2).alias("status"),
        F.element_at(nums, 3).alias("val"),
        F.element_at(img, 4).alias("note"),
        F.when(
            F.col("kind") == "u", F.element_at(F.col("before"), 4)
        ).alias("old_note"),
    )


@register(
    "s20_pgoutput_to_table",
    oracle="""
    WITH last AS (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id AS id,
           CASE WHEN event_id % 4 = 1 THEN event_type || '_u'
                ELSE event_type END AS status,
           CAST(floor(value * 100) AS BIGINT) AS balance_cents
    FROM last WHERE rn = 1 AND event_id % 4 <> 2
    """,
)
def s20_pgoutput_to_table(spark, sf_dir):
    """The full user-visible CDC slice over REAL wire bytes: binary
    pgoutput stream (keyed on user_id, so every key carries a multi-op
    insert/update/delete history) → decode → last-write-wins reduction by
    LSN → materialized table (deletes drop the row). This is what
    switching a Debezium-Postgres + JDBC-sink user onto this engine means
    end-to-end; the oracle rebuilds the final table from the closed form
    (the last event per user decides existence and values). The reduce is
    k4's key-partitioned window — no global ordering anywhere."""
    from debezium_spark.operators.reduce import reduce_last_per_key
    from debezium_spark.sources.pgoutput import decode_pgoutput_binary

    stream = _pgoutput_fixture_stream(spark, sf_dir, key_by_user=True)
    dec = decode_pgoutput_binary(spark, stream)
    rows = dec.select(
        F.coalesce(F.col("after")["id"], F.col("before")["id"])
        .cast("long")
        .alias("id"),
        "op",
        F.col("after")["status"].alias("status"),
        F.col("after")["balance"].cast("long").alias("balance_cents"),
        "lsn",
    )
    latest = reduce_last_per_key(rows, key_cols=("id",), order_col="lsn")
    return latest.filter(F.col("op") != "d").select(
        "id", "status", "balance_cents"
    )


@register(
    "s21_toast_reselect",
    oracle="""
    SELECT (event_id // 50) * 1000 + 2 + (event_id % 50) AS lsn,
           event_id AS id,
           'n_' || CAST(user_id AS VARCHAR) AS note_refilled
    FROM events WHERE event_id % 4 = 1 AND event_id % 5 = 0
    """,
)
def s21_toast_reselect(spark, sf_dir):
    """Unchanged-TOAST refill — the reference's
    ReselectColumnsPostProcessor applied to the binary decode's 'u'
    cells: pgoutput does NOT resend an unchanged TOASTed column, so the
    decoded update carries a marker, and the post-processor re-queries
    the source row to fill it (ReselectColumnsPostProcessor.java:68-73,
    UnchangedToastedReplicationMessageColumn). Spark shape: filter to
    events whose ``after_toasted`` names the column, then a keyed
    equi-join against the source table (Spark broadcasts it when small;
    at scale it is a plain hash join on the PK — the lookup side is the
    live table, not a dim). The oracle rebuilds which updates carried a
    TOAST marker and what the refilled value must be."""
    from debezium_spark.sources.pgoutput import decode_pgoutput_binary

    stream = _pgoutput_fixture_stream(spark, sf_dir)
    dec = decode_pgoutput_binary(spark, stream)
    toasted = dec.filter(
        F.array_contains(F.col("after_toasted"), "note")
    ).select("lsn", F.col("after")["id"].cast("long").alias("id"))
    source_rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_id").alias("id"),
        F.concat(F.lit("n_"), F.col("user_id").cast("string")).alias(
            "note_refilled"
        ),
    )
    return toasted.join(source_rows, "id", "inner").select(
        "lsn", "id", "note_refilled"
    )


# ---------------------------------------------------------------------------
# S22 — typed pgoutput values: the OID -> Spark cast layer over the binary
# decode (PostgresValueConverter.java:112,286-324). The relation registry
# carries (col_oids, col_typmods); typed_projection turns the text envelope
# into DecimalType-from-atttypmod / TimestampType / DateType / BinaryType /
# arrays — the completion of s18.
# ---------------------------------------------------------------------------
_PG_TYPED_RELID = 16400
_PG_TYPED_COLS = [  # (flags, name, type_oid, atttypmod)
    (1, "id", 20, -1),            # int8
    (0, "active", 16, -1),        # bool
    (0, "score", 701, -1),        # float8
    (0, "amount", 1700, ((12 << 16) | 2) + 4),  # numeric(12,2)
    (0, "label", 25, -1),         # text
    (0, "created_at", 1184, -1),  # timestamptz
    (0, "birth", 1082, -1),       # date
    (0, "payload", 17, -1),       # bytea
    (0, "tags", 1007, -1),        # int4[]
    (0, "names", 1009, -1),       # text[]
    (0, "uid", 2950, -1),         # uuid
    (0, "t_of_day", 1083, -1),    # time -> MicroTime int64
    (0, "seen_at", 1114, -1),     # timestamp (no tz)
]


def _pgoutput_typed_fixture(spark, sf_dir):
    """Binary pgoutput stream whose relation spans the converter's type
    matrix, every text cell in PG's own output format (bool 't'/'f',
    bytea '\\x…' hex, ISO timestamps with '+00', '{…}' array literals,
    NUMERIC rendered at its typmod scale). Values derive closed-form
    from the events table so the oracle can rebuild each one."""
    import hashlib
    from datetime import date, datetime, timedelta, timezone

    import pandas as pd

    from debezium_spark.sources.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def enc(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for e, u, t, v in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"],
                pdf["value"],
            ):
                e, u, v = int(e), int(u), float(v)
                cents = int(v * 100 // 1)
                m = hashlib.md5(str(e).encode()).hexdigest()
                ts = datetime.fromtimestamp(e, tz=timezone.utc).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                s = e % 86400
                after = [
                    ("t", str(e)),
                    ("n", None) if e % 7 == 0
                    else ("t", "t" if e % 2 else "f"),
                    ("t", repr(v)),
                    ("t", f"{cents // 100}.{cents % 100:02d}"),
                    ("t", t),
                    ("t", ts + "+00"),
                    ("t", (date(1970, 1, 1)
                           + timedelta(days=e % 20000)).isoformat()),
                    ("t", f"\\x{e:08x}"),
                    ("t", "{" + f"{u},{e},NULL" + "}"),
                    ("t", '{"' + t + ' x",NULL,' + t + "}"),
                    ("t", f"{m[:8]}-{m[8:12]}-{m[12:16]}-{m[16:20]}-"
                          f"{m[20:32]}"),
                    ("t", f"{s // 3600:02d}:{s % 3600 // 60:02d}"
                          f":{s % 60:02d}"),
                    ("t", ts),
                ]
                lsns.append(e + 2)
                msgs.append(encode_insert(_PG_TYPED_RELID, after))
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    data = ev.mapInPandas(enc, "lsn long, msg binary")
    head = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(
                _PG_TYPED_RELID, "public", "typed_accounts",
                _PG_TYPED_COLS))),
            (1, bytearray(encode_begin(10**9, 7_000_000, 4242))),
            (10**9, bytearray(encode_commit(10**9, 10**9, 7_000_000))),
        ],
        "lsn long, msg binary",
    )
    return _materialize_stream(spark, head.unionByName(data), sf_dir)


@register(
    "s22_pgoutput_typed",
    oracle="""
    SELECT event_id AS id,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE event_id % 2 = 1 END AS active,
           value AS score,
           printf('%d.%02d',
                  CAST(floor(value * 100) AS BIGINT) // 100,
                  CAST(floor(value * 100) AS BIGINT) % 100) AS amount_str,
           event_type AS label,
           CAST(event_id AS BIGINT) * 1000000 AS created_us,
           CAST(DATE '1970-01-01'
                + CAST(event_id % 20000 AS INTEGER) AS VARCHAR) AS birth_str,
           upper(printf('%08x', event_id)) AS payload_hex,
           3 AS tags_len,
           CAST(user_id AS INTEGER) AS tags_user,
           CAST(event_id AS INTEGER) AS tags_event,
           event_type || ' x|∅|' || event_type AS names_joined,
           substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
           substr(md5(CAST(event_id AS VARCHAR)), 21, 12) AS uid,
           CAST(event_id % 86400 AS BIGINT) * 1000000 AS tod_us,
           strftime(TIMESTAMP '1970-01-01 00:00:00'
                    + event_id * INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS seen_str
    FROM events
    """,
)
def s22_pgoutput_typed(spark, sf_dir):
    """OID-typed projection of the binary pgoutput decode: the registry's
    (col_oids, col_typmods) drive ``pg_typed_value``'s Catalyst-cast
    dispatch (PostgresValueConverter.java:286-324) — bool/float8/
    numeric(12,2)-from-atttypmod/text/timestamptz/date/bytea/int4[]/
    text[]/uuid/time-as-MicroTime/timestamp-ntz. The oracle rebuilds
    every value from the closed-form fixture derivation; decimals,
    dates and ntz timestamps canonicalize via their fixed-scale string
    forms so both engines hash scale-faithfully."""
    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    stream = _pgoutput_typed_fixture(spark, sf_dir)
    reg = relation_registry(spark, stream)
    dec = decode_pgoutput_binary(spark, stream, registry=reg)
    typed = typed_projection(dec, reg, "public", "typed_accounts")
    return typed.select(
        "id",
        "active",
        "score",
        F.col("amount").cast("string").alias("amount_str"),
        "label",
        F.unix_micros("created_at").alias("created_us"),
        F.col("birth").cast("string").alias("birth_str"),
        F.hex("payload").alias("payload_hex"),
        F.size("tags").alias("tags_len"),
        F.element_at("tags", 1).alias("tags_user"),
        F.element_at("tags", 2).alias("tags_event"),
        F.array_join("names", "|", "∅").alias("names_joined"),
        "uid",
        F.col("t_of_day").alias("tod_us"),
        F.col("seen_at").cast("string").alias("seen_str"),
    )


# ---------------------------------------------------------------------------
# S22b — the FULL pg array grammar + the OID tail through the typed
# projection: quoted elements with embedded commas/braces/escaped quotes,
# NULL vs "NULL", a 2-D int4 array (attndims side-channel), interval ->
# ISO-8601 string, money -> decimal(19,2), inet/macaddr validated strings,
# point -> x/y struct (PostgresValueConverter.java:286-324 and its array
# walk; Interval.toIsoString for the interval rendering).
# ---------------------------------------------------------------------------
_PG_ARR_RELID = 16401
_PG_ARR_COLS = [  # (flags, name, type_oid, atttypmod)
    (1, "id", 20, -1),       # int8
    (0, "names", 1009, -1),  # text[]
    (0, "grid", 1007, -1),   # int4[][] (dims via array_dims side-channel)
    (0, "iv", 1186, -1),     # interval
    (0, "price", 790, -1),   # money
    (0, "addr", 869, -1),    # inet
    (0, "mac", 829, -1),     # macaddr
    (0, "loc", 600, -1),     # point
]


def _pg_array_grammar_fixture(spark, sf_dir):
    """Binary pgoutput stream whose text cells exercise exactly the
    shapes the old bare-comma array split corrupted: embedded commas and
    braces inside quotes, escaped quotes, unquoted NULL elements, plus
    the tail OIDs. Every value derives closed-form from the events table
    so the oracle can rebuild it."""
    import pandas as pd

    from debezium_spark.sources.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )

    def enc(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for e, u, t in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"]
            ):
                e, u = int(e), int(u)
                after = [
                    ("t", str(e)),
                    ("t", '{"' + t + ',x",NULL,"say \\"hi\\"","{brace}"}'),
                    ("t", "{{" + f"{u},{e}" + "},{" + f"{e},NULL" + "}}"),
                    ("t", f"{e % 5} years {e % 12} mons {e % 28} days "
                          f"{e % 24:02d}:{e % 60:02d}:{(e + 1) % 60:02d}"),
                    ("t", f"${e % 10000:,}.{e % 100:02d}"),
                    ("t", f"10.{u % 200}.{e % 250}.{e % 99}/{e % 33}"),
                    ("t", f"{u % 256:02x}:{e % 256:02x}:"
                          f"{(e // 256) % 256:02x}:"
                          f"{(e // 65536) % 256:02x}:{e % 7:02x}:ff"),
                    ("t", f"({u}.5,-{e % 100}.25)"),
                ]
                lsns.append(e + 2)
                msgs.append(encode_insert(_PG_ARR_RELID, after))
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    data = ev.mapInPandas(enc, "lsn long, msg binary")
    head = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(
                _PG_ARR_RELID, "public", "arrayful", _PG_ARR_COLS))),
            (1, bytearray(encode_begin(10**9, 7_000_000, 4243))),
            (10**9, bytearray(encode_commit(10**9, 10**9, 7_000_000))),
        ],
        "lsn long, msg binary",
    )
    return _materialize_stream(spark, head.unionByName(data), sf_dir)


@register(
    "s22b_pg_array_grammar",
    oracle="""
    SELECT event_id AS id,
           event_type || ',x|∅|say "hi"|{brace}' AS names_joined,
           2 AS grid_rows,
           CAST(user_id AS INTEGER) AS g11,
           CAST(event_id AS INTEGER) AS g12,
           CAST(event_id AS INTEGER) AS g21,
           TRUE AS g22_null,
           printf('P%dY%dM%dDT%dH%dM%dS',
                  event_id % 5, event_id % 12, event_id % 28,
                  event_id % 24, event_id % 60,
                  (event_id + 1) % 60) AS iv_iso,
           printf('%d.%02d', event_id % 10000, event_id % 100)
               AS price_str,
           printf('10.%d.%d.%d/%d', user_id % 200, event_id % 250,
                  event_id % 99, event_id % 33) AS addr,
           printf('%02x:%02x:%02x:%02x:%02x:ff',
                  user_id % 256, event_id % 256,
                  (event_id // 256) % 256,
                  (event_id // 65536) % 256, event_id % 7) AS mac,
           CAST(user_id AS DOUBLE) + 0.5 AS pt_x,
           -(CAST(event_id % 100 AS DOUBLE) + 0.25) AS pt_y
    FROM events
    """,
)
def s22b_pg_array_grammar(spark, sf_dir):
    """The completion of s22's array leg: the REAL array_out grammar —
    a quoted first element carrying an embedded comma, an unquoted NULL,
    an escaped quote, a brace-bearing quoted element — plus a 2-D int4
    array driven by the attndims side-channel, and the interval/money/
    inet/macaddr/point OID arms. Any mis-split (the old bare-comma
    behavior) changes names_joined/g* and fails the hash."""
    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    stream = _pg_array_grammar_fixture(spark, sf_dir)
    reg = relation_registry(spark, stream)
    dec = decode_pgoutput_binary(spark, stream, registry=reg)
    typed = typed_projection(
        dec, reg, "public", "arrayful", array_dims={"grid": 2}
    )
    return typed.select(
        "id",
        F.array_join("names", "|", "∅").alias("names_joined"),
        F.size("grid").alias("grid_rows"),
        F.element_at(F.element_at("grid", 1), 1).alias("g11"),
        F.element_at(F.element_at("grid", 1), 2).alias("g12"),
        F.element_at(F.element_at("grid", 2), 1).alias("g21"),
        F.element_at(F.element_at("grid", 2), 2).isNull().alias("g22_null"),
        F.col("iv").alias("iv_iso"),
        F.col("price").cast("string").alias("price_str"),
        "addr",
        "mac",
        F.col("loc")["x"].alias("pt_x"),
        F.col("loc")["y"].alias("pt_y"),
    )


# ---------------------------------------------------------------------------
# S22c — PG range types + hstore through the typed projection
# (PostgresValueConverter.java:252-259 ranges as strings, :300-303 range
# arrays, :362-378 + :436-445 + :721-726 hstore map/json modes).
# ---------------------------------------------------------------------------
_PG_RANGE_RELID = 16402
_PG_HSTORE_OID = 16999   # extension type: installation-specific OID
_PG_RANGE_COLS = [  # (flags, name, type_oid, atttypmod)
    (1, "id", 20, -1),        # int8
    (0, "valid", 3908, -1),   # tsrange
    (0, "span", 3904, -1),    # int4range
    (0, "prices", 3906, -1),  # numrange
    (0, "slots", 3913, -1),   # daterange[]
    (0, "attrs", _PG_HSTORE_OID, -1),  # hstore
]


def _pg_range_hstore_fixture(spark, sf_dir):
    """Binary pgoutput stream with range/hstore text cells: a quoted
    tsrange (bounds carry spaces), a bare int4range, a lower-unbounded
    numrange, a daterange ARRAY (every element quoted — range text always
    has a comma), and an hstore with a space-bearing key, a NULL value and
    escaped quote/backslash. Every value derives closed-form from events
    so the oracle can rebuild it."""
    import pandas as pd

    from debezium_spark.sources.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    ev = _events_feed(spark, sf_dir).select("event_id", "event_type")

    def enc(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for e, t in zip(pdf["event_id"], pdf["event_type"]):
                e = int(e)
                d, m = e % 27 + 1, e % 12 + 1
                after = [
                    ("t", str(e)),
                    ("t", f'["2020-01-{d:02d} 00:00:00",'
                          f'"2021-01-{d:02d} 00:00:00")'),
                    ("t", f"[{e % 100},{e % 100 + 5})"),
                    ("t", f"(,{e % 1000}.50]"),
                    ("t", '{"[2020-01-01,2020-02-01)",'
                          f'"[2021-{m:02d}-01,2021-{m:02d}-02)"' + "}"),
                    ("t", f'"k 1"=>"v,{e}", "nil"=>NULL, '
                          f'"q\\"{t}"=>"x\\\\y"'),
                ]
                lsns.append(e + 2)
                msgs.append(encode_insert(_PG_RANGE_RELID, after))
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    data = ev.mapInPandas(enc, "lsn long, msg binary")
    head = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(
                _PG_RANGE_RELID, "public", "rangeful", _PG_RANGE_COLS))),
            (1, bytearray(encode_begin(10**9, 7_000_000, 4244))),
            (10**9, bytearray(encode_commit(10**9, 10**9, 7_000_000))),
        ],
        "lsn long, msg binary",
    )
    return _materialize_stream(spark, head.unionByName(data), sf_dir)


@register(
    "s22c_pg_range_hstore",
    oracle="""
    SELECT event_id AS id,
           printf('["2020-01-%02d 00:00:00","2021-01-%02d 00:00:00")',
                  event_id % 27 + 1, event_id % 27 + 1) AS valid_str,
           printf('[%d,%d)', event_id % 100, event_id % 100 + 5) AS span_str,
           printf('(,%d.50]', event_id % 1000) AS prices_str,
           2 AS slots_n,
           printf('[2021-%02d-01,2021-%02d-02)',
                  event_id % 12 + 1, event_id % 12 + 1) AS slot2,
           'v,' || CAST(event_id AS VARCHAR) AS attrs_k1,
           TRUE AS attrs_has_nil,
           TRUE AS attrs_nil_null,
           'k 1|nil|q"' || event_type AS attrs_keys,
           'x\\y' AS attrs_qval
    FROM events
    """,
)
def s22c_pg_range_hstore(spark, sf_dir):
    """PG range types + hstore (the everyday-Postgres tail of the s22
    typed projection): TSRANGE/INT4RANGE/NUMRANGE pass through as
    validated range text, DATERANGE[] rides the quote-aware array
    tokenizer (every element carries a comma), and hstore parses to
    map<string,string-nullable> — space-bearing keys, NULL vs "NULL"
    values, \\" and \\\\ escapes. JSON-mode hstore rendering is
    golden-tested in tests/test_pgoutput.py (it's a config mode, not a
    second column shape)."""
    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    stream = _pg_range_hstore_fixture(spark, sf_dir)
    reg = relation_registry(spark, stream)
    dec = decode_pgoutput_binary(spark, stream, registry=reg)
    typed = typed_projection(
        dec, reg, "public", "rangeful",
        hstore_oids=frozenset({_PG_HSTORE_OID}),
    )
    return typed.select(
        "id",
        F.col("valid").alias("valid_str"),
        F.col("span").alias("span_str"),
        F.col("prices").alias("prices_str"),
        F.size("slots").alias("slots_n"),
        F.element_at("slots", 2).alias("slot2"),
        F.element_at("attrs", "k 1").alias("attrs_k1"),
        F.map_contains_key("attrs", "nil").alias("attrs_has_nil"),
        F.element_at("attrs", "nil").isNull().alias("attrs_nil_null"),
        F.array_join(F.map_keys("attrs"), "|").alias("attrs_keys"),
        # the escaped-quote key's VALUE, looked up via the key list (the
        # key itself carries the row's event_type and is asserted through
        # attrs_keys above)
        F.element_at(
            "attrs", F.element_at(F.map_keys("attrs"), 3)
        ).alias("attrs_qval"),
    )


# ---------------------------------------------------------------------------
# S22d — pgvector + ltree extension types through the typed projection
# (PostgresValueConverter.java:362-378 TypeRegistry lookups, :738-773
# Vectors.fromVectorString/fromSparseVectorString; ltree -> string).
# ---------------------------------------------------------------------------
_PG_VEC_RELID = 16403
_PG_VEC_COLS = [  # (flags, name, type_oid, atttypmod)
    (1, "id", 20, -1),
    (0, "emb", 17001, -1),    # vector  -> array<double>
    (0, "hemb", 17002, -1),   # halfvec -> array<float>
    (0, "semb", 17003, -1),   # sparsevec -> SparseDoubleVector struct
    (0, "path", 17004, -1),   # ltree -> string
]
_PG_EXT_OIDS = {17001: "vector", 17002: "halfvec",
                17003: "sparsevec", 17004: "ltree"}


def _pg_vector_fixture(spark, sf_dir):
    import pandas as pd

    from debezium_spark.sources.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                after = [
                    ("t", str(e)),
                    ("t", f"[{e % 7}.5,{e % 11},2]"),
                    ("t", f"[{e % 5},1.25]"),
                    ("t", "{" + f"1:{e % 9}.5,4:2" + "}/6"),
                    ("t", f"a.b{e % 3}.c"),
                ]
                lsns.append(e + 2)
                msgs.append(encode_insert(_PG_VEC_RELID, after))
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    data = ev.mapInPandas(enc, "lsn long, msg binary")
    head = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(
                _PG_VEC_RELID, "public", "vectorful", _PG_VEC_COLS))),
            (1, bytearray(encode_begin(10**9, 7_000_000, 4245))),
            (10**9, bytearray(encode_commit(10**9, 10**9, 7_000_000))),
        ],
        "lsn long, msg binary",
    )
    return _materialize_stream(spark, head.unionByName(data), sf_dir)


@register(
    "s22d_pgvector_types",
    oracle="""
    SELECT event_id AS id,
           CAST(event_id % 7 AS DOUBLE) + 0.5 AS v1,
           3 AS v_len,
           CAST(1.25 AS REAL) AS h2,
           6 AS s_dims,
           '1|4' AS s_idx,
           sqrt((CAST(event_id % 9 AS DOUBLE) + 0.5)
                * (CAST(event_id % 9 AS DOUBLE) + 0.5) + 4.0) AS s_norm,
           'a.b' || CAST(event_id % 3 AS VARCHAR) || '.c' AS path
    FROM events
    """,
)
def s22d_pgvector_types(spark, sf_dir):
    """pgvector columns land as COMPUTABLE types: vector/halfvec become
    float arrays, sparsevec becomes the engine's SparseDoubleVector
    struct (analytics/sparse.py consumes it directly — s_norm here IS
    sparse_norm over the freshly decoded CDC value, the embedding-column
    handoff to the ANN operators), ltree as a validated label path."""
    from debezium_spark.analytics.sparse import sparse_norm
    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    stream = _pg_vector_fixture(spark, sf_dir)
    reg = relation_registry(spark, stream)
    dec = decode_pgoutput_binary(spark, stream, registry=reg)
    typed = typed_projection(
        dec, reg, "public", "vectorful", ext_oids=_PG_EXT_OIDS
    )
    return typed.select(
        "id",
        F.element_at("emb", 1).alias("v1"),
        F.size("emb").alias("v_len"),
        F.element_at("hemb", 2).alias("h2"),
        F.col("semb")["dimensions"].alias("s_dims"),
        F.array_join(
            F.transform(F.col("semb")["indices"],
                        lambda i: i.cast("string")),
            "|",
        ).alias("s_idx"),
        sparse_norm(F.col("semb")).alias("s_norm"),
        "path",
    )


# ---------------------------------------------------------------------------
# S22e — the last PG typed-projection arms: TIMETZ (ZonedTime ISO at UTC
# incl. the hour-24 boundary, PostgresValueConverter.java:157-167,241,
# 1108-1128), BIT/VARBIT (data.Bits little-endian content-sized bytes,
# :226-228,483-485,899-948; length-1 -> boolean), PostGIS geometry/
# geography (hex EWKB -> struct{wkb,srid} via installation-keyed OIDs,
# :350-356,1258-1281), citext + citext[] (:356-359,383-384).
# ---------------------------------------------------------------------------
_PG_MISC_RELID = 16404
_PG_MISC_COLS = [  # (flags, name, type_oid, atttypmod)
    (1, "id", 20, -1),
    (0, "t_tz", 1266, -1),      # timetz
    (0, "flags", 1560, 5),      # bit(5) — typmod IS the bit length
    (0, "vb", 1562, -1),        # varbit (unconstrained)
    (0, "b1", 1560, 1),         # bit(1) -> boolean
    (0, "geom", 17020, -1),     # geometry (installation OID)
    (0, "geog", 17021, -1),     # geography
    (0, "name_ci", 17022, -1),  # citext
    (0, "tags", 17023, -1),     # citext[]
]
_PG_MISC_EXT = {17020: "geometry", 17021: "geography",
                17022: "citext", 17023: "citext_array"}


def _pg_misc_types_fixture(spark, sf_dir):
    """pgoutput stream exercising every new arm's edge: the 24:00:00
    end-of-day boundary, a fractional-second TIMETZ, a minute-bearing
    negative offset, a past-midnight UTC wrap; an all-zero bit string
    (ships ZERO bytes), a two-byte varbit; little-endian EWKB with and
    without the SRID flag, a big-endian EWKB, and an unparseable
    geometry cell (must degrade to GEOMETRYCOLLECTION EMPTY, the
    reference's warn-and-fallback); a quoted space-bearing citext array
    element. Every value derives closed-form from events."""
    import pandas as pd

    from debezium_spark.sources.pgoutput import (
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            lsns, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                if e % 10 == 0:
                    ttz = "24:00:00+00"
                elif e % 10 == 5:
                    ttz = f"{e % 12 + 6:02d}:{e % 60:02d}:30.123456+02"
                elif e % 10 == 7:
                    ttz = f"{e % 12 + 6:02d}:{e % 60:02d}:30-03:30"
                elif e % 10 == 9:
                    ttz = "23:30:00-05"  # wraps past midnight at UTC
                else:
                    ttz = f"{e % 12 + 6:02d}:{e % 60:02d}:30+02"
                pay = (f"{e % 256:02X}" + "00" * 7
                       + f"{e // 3 % 256:02X}" + "00" * 7)
                if e % 13 == 6:
                    geom = "not-a-geometry"
                elif e % 7 == 0:
                    geom = "0101000000" + pay          # no SRID flag
                elif e % 7 == 3:
                    geom = "0020000001" + "000010E6" + pay  # big-endian
                else:
                    geom = "0101000020" + "E6100000" + pay
                after = [
                    ("t", str(e)),
                    ("t", ttz),
                    ("t", f"{e % 32:05b}"),
                    ("t", f"{e % 1000:010b}"),
                    ("t", "1" if e % 2 else "0"),
                    ("t", geom),
                    ("t", "0101000020E6100000"
                          + f"{(e + 7) % 256:02X}" + "00" * 7 + "00" * 8),
                    ("t", f"Us er {e}"),
                    ("t", "{a,B" + str(e % 5) + ',"c d"}'),
                ]
                lsns.append(e + 2)
                msgs.append(encode_insert(_PG_MISC_RELID, after))
            yield pd.DataFrame({"lsn": lsns, "msg": msgs})

    data = ev.mapInPandas(enc, "lsn long, msg binary")
    head = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(
                _PG_MISC_RELID, "public", "miscful", _PG_MISC_COLS))),
            (1, bytearray(encode_begin(10**9, 7_000_000, 4246))),
            (10**9, bytearray(encode_commit(10**9, 10**9, 7_000_000))),
        ],
        "lsn long, msg binary",
    )
    return _materialize_stream(spark, head.unionByName(data), sf_dir)


@register(
    "s22e_pg_misc_types",
    oracle="""
    WITH p AS (
        SELECT event_id,
               printf('%02x', event_id % 256) || '00000000000000'
               || printf('%02x', (event_id // 3) % 256)
               || '00000000000000' AS pay
        FROM events
    )
    SELECT event_id AS id,
           CASE WHEN event_id % 10 = 0 THEN '24:00:00Z'
                WHEN event_id % 10 = 5 THEN printf(
                    '%02d:%02d:30.123456Z',
                    event_id % 12 + 4, event_id % 60)
                WHEN event_id % 10 = 7 THEN printf(
                    '%02d:%02d:30Z',
                    event_id % 12 + 9 + (event_id % 60 + 30) // 60,
                    (event_id % 60 + 30) % 60)
                WHEN event_id % 10 = 9 THEN '04:30:00Z'
                ELSE printf('%02d:%02d:30Z',
                            event_id % 12 + 4, event_id % 60) END AS t_tz,
           CASE WHEN event_id % 32 = 0 THEN ''
                ELSE printf('%02x', event_id % 32) END AS flags_hex,
           CASE WHEN event_id % 1000 = 0 THEN ''
                WHEN event_id % 1000 < 256
                    THEN printf('%02x', event_id % 1000)
                ELSE printf('%02x%02x', (event_id % 1000) % 256,
                            (event_id % 1000) // 256) END AS vb_hex,
           event_id % 2 = 1 AS b1,
           CASE WHEN event_id % 13 = 6 THEN '010700000000000000'
                WHEN event_id % 7 = 0 THEN '0101000000' || pay
                WHEN event_id % 7 = 3 THEN '0020000001000010e6' || pay
                ELSE '0101000020e6100000' || pay END AS geom_hex,
           CASE WHEN event_id % 13 = 6 OR event_id % 7 = 0 THEN NULL
                ELSE 4326 END AS geom_srid,
           4326 AS geog_srid,
           25 AS geog_len,
           'Us er ' || CAST(event_id AS VARCHAR) AS name_ci,
           'a|B' || CAST(event_id % 5 AS VARCHAR) || '|c d' AS tags_joined
    FROM p
    """,
)
def s22e_pg_misc_types(spark, sf_dir):
    """The completion of the PG typed projection: TIMETZ renders the
    reference's ZonedTime ISO string at UTC (end-of-day 24:00:00 pinned,
    fractions trailing-zero-stripped, offsets to the second, midnight
    wrap); BIT(5)/VARBIT become content-sized little-endian Bits bytes
    and BIT(1) a boolean; PostGIS geometry/geography decode hex EWKB
    into struct{wkb,srid} with the SRID extracted per the flag word on
    either endianness (unparseable cells degrade to the reference's
    GEOMETRYCOLLECTION EMPTY fallback); citext passes as string and
    citext[] rides the quote-aware array tokenizer."""
    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    stream = _pg_misc_types_fixture(spark, sf_dir)
    reg = relation_registry(spark, stream)
    dec = decode_pgoutput_binary(spark, stream, registry=reg)
    typed = typed_projection(
        dec, reg, "public", "miscful", ext_oids=_PG_MISC_EXT
    )
    return typed.select(
        "id",
        "t_tz",
        F.lower(F.hex("flags")).alias("flags_hex"),
        F.lower(F.hex("vb")).alias("vb_hex"),
        "b1",
        F.lower(F.hex(F.col("geom")["wkb"])).alias("geom_hex"),
        F.col("geom")["srid"].alias("geom_srid"),
        F.col("geog")["srid"].alias("geog_srid"),
        F.length(F.col("geog")["wkb"]).alias("geog_len"),
        "name_ci",
        F.array_join("tags", "|").alias("tags_joined"),
    )


# ---------------------------------------------------------------------------
# S32 — MySQL compressed transactions (TRANSACTION_PAYLOAD, WL#3549):
# WRITE/UPDATE/DELETE rows arrive ONLY inside zstd-compressed payload
# events (every 5th transaction uncompressed, compression type NONE) and
# must decode identically to a plain stream
# (BinlogStreamingChangeEventSource.java:203,500-510,981-999).
# ---------------------------------------------------------------------------
@register(
    "s32_binlog_txn_payload",
    oracle="""
    SELECT 1000 + event_id AS pos,
           CASE event_type WHEN 'signup' THEN 'c'
                           WHEN 'error' THEN 'd'
                           ELSE 'u' END AS op,
           event_id AS id,
           event_id % 1000 AS qty,
           'L' || CAST(event_id % 97 AS VARCHAR) AS label
    FROM events
    """,
)
def s32_binlog_txn_payload(spark, sf_dir):
    """Compressed-transaction decode: each event row becomes one
    TRANSACTION_PAYLOAD wrapping [TABLE_MAP, rows event, XID] — so the
    TABLE_MAPs are only discoverable inside the payloads (the extended
    table_map_registry extracts them DISTRIBUTED, decompress-and-emit,
    never collecting whole payloads driver-side). Deletes read the
    before image; the oracle rebuilds every value closed-form."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        DELETE_ROWS_EVENT,
        PAYLOAD_COMPRESSION_NONE,
        PAYLOAD_COMPRESSION_ZSTD,
        TYPE_LONG,
        TYPE_LONGLONG,
        TYPE_VARCHAR,
        UPDATE_ROWS_EVENT,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
        encode_transaction_payload,
        encode_xid,
    )

    TID = 415
    TYPES = [TYPE_LONGLONG, TYPE_LONG, TYPE_VARCHAR]
    METAS = [0, 0, 120]

    ev = _events_feed(spark, sf_dir).select("event_id", "event_type")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e, t in zip(pdf["event_id"], pdf["event_type"]):
                e = int(e)
                vals = [e, e % 1000, f"L{e % 97}"]
                if t == "signup":
                    rows = encode_rows_event(
                        WRITE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"after": vals}], log_pos=1000 + e,
                    )
                elif t == "error":
                    rows = encode_rows_event(
                        DELETE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": vals}], log_pos=1000 + e,
                    )
                else:
                    rows = encode_rows_event(
                        UPDATE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": [e, 0, "old"], "after": vals}],
                        log_pos=1000 + e,
                    )
                tm = encode_table_map(
                    TID, "shop", "stock", TYPES, METAS,
                    [False, True, True], log_pos=999 + e,
                )
                comp = (PAYLOAD_COMPRESSION_NONE if e % 5 == 0
                        else PAYLOAD_COMPRESSION_ZSTD)
                msgs.append(encode_transaction_payload(
                    [tm, rows, encode_xid(e, log_pos=1001 + e)],
                    compression=comp, log_pos=1001 + e,
                ))
                poss.append(e)
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    stream = (
        ev.mapInPandas(enc, "pos long, msg binary")
        .localCheckpoint(eager=True)
    )
    dec = decode_binlog_rows(stream)
    img = F.when(
        F.col("kind") == "d", F.col("before")
    ).otherwise(F.col("after"))
    return dec.filter(F.col("kind").isin("c", "u", "d")).select(
        F.col("log_pos").alias("pos"),
        F.col("kind").alias("op"),
        F.element_at(img, 1).cast("long").alias("id"),
        F.element_at(img, 2).cast("long").alias("qty"),
        F.element_at(img, 3).alias("label"),
    )


# ---------------------------------------------------------------------------
# S34 — binlog include.query: ROWS_QUERY (MySQL,
# binlog_rows_query_log_events=ON) and ANNOTATE_ROWS (MariaDB) carry the
# originating SQL into the rows events' query field — the conditional
# handler at BinlogStreamingChangeEventSource.java:224-228 +
# MySqlStreamingChangeEventSource.java:124-130 /
# MariaDbStreamingChangeEventSource.java:117-137.
# ---------------------------------------------------------------------------
@register(
    "s34_binlog_include_query",
    oracle="""
    SELECT event_id * 10 + 3 AS pos,
           event_id AS id,
           event_id % 1000 AS qty,
           CASE WHEN event_id % 9 = 0 THEN NULL
                ELSE 'UPDATE shop.stock SET qty=qty+1 WHERE id='
                     || CAST(event_id AS VARCHAR) END AS query
    FROM events
    """,
)
def s34_binlog_include_query(spark, sf_dir):
    """include.query through BOTH flavors and BOTH transports: even
    event ids ship MySQL-style [ROWS_QUERY, TABLE_MAP, rows, XID] inside
    a TRANSACTION_PAYLOAD (the statement threads to its rows in the same
    parse unit); odd ids ship MariaDB-style ANNOTATE_ROWS as separate
    top-level messages, attached by position-interval join. Every 9th
    transaction carries NO statement marker — its rows must stay NULL
    (intervals break at the previous transaction's XID, so no stale
    query leaks forward)."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        PAYLOAD_COMPRESSION_NONE,
        PAYLOAD_COMPRESSION_ZSTD,
        TYPE_LONG,
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        attach_rows_query,
        decode_binlog_rows,
        encode_annotate_rows,
        encode_rows_event,
        encode_rows_query,
        encode_table_map,
        encode_transaction_payload,
        encode_xid,
    )

    TID = 416
    TYPES = [TYPE_LONGLONG, TYPE_LONG]
    METAS = [0, 0]

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                sql = f"UPDATE shop.stock SET qty=qty+1 WHERE id={e}"
                tm = encode_table_map(
                    TID, "shop", "stock", TYPES, METAS,
                    [False, True], log_pos=e * 10 + 2,
                )
                rows = encode_rows_event(
                    WRITE_ROWS_EVENT, TID, TYPES, METAS,
                    [{"after": [e, e % 1000]}], log_pos=e * 10 + 3,
                )
                xid = encode_xid(e, log_pos=e * 10 + 4)
                if e % 2 == 0:
                    emb = [tm, rows, xid]
                    if e % 9 != 0:
                        emb.insert(0, encode_rows_query(
                            sql, log_pos=e * 10 + 1))
                    comp = (PAYLOAD_COMPRESSION_NONE if e % 6 == 0
                            else PAYLOAD_COMPRESSION_ZSTD)
                    poss.append(e * 10)
                    msgs.append(encode_transaction_payload(
                        emb, compression=comp, log_pos=e * 10 + 4))
                else:
                    parts = [(e * 10 + 2, tm), (e * 10 + 3, rows),
                             (e * 10 + 4, xid)]
                    if e % 9 != 0:
                        parts.insert(0, (e * 10 + 1, encode_annotate_rows(
                            sql, log_pos=e * 10 + 1)))
                    for p, m in parts:
                        poss.append(p)
                        msgs.append(m)
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    stream = (
        ev.mapInPandas(enc, "pos long, msg binary")
        .localCheckpoint(eager=True)
    )
    dec = decode_binlog_rows(stream, include_query=True)
    # bin near the fixture's statement span (4 positions); real binlogs
    # use byte offsets and the 1 MiB default
    out = attach_rows_query(dec, bin_width=64)
    return out.filter(F.col("kind").isin("c", "u", "d")).select(
        F.col("log_pos").alias("pos"),
        F.element_at("after", 1).cast("long").alias("id"),
        F.element_at("after", 2).cast("long").alias("qty"),
        "query",
    )


# ---------------------------------------------------------------------------
# S35 — XA transactions + group replication view changes: XA_PREPARE and
# VIEW_CHANGE arms of the event dispatch
# (BinlogStreamingChangeEventSource.java:220-221,1051-1070 — the
# reference registers both handlers; prepare/view boundaries surface as
# marker rows, rows events inside the XA bracket decode normally).
# ---------------------------------------------------------------------------
@register(
    "s35_binlog_xa_view_change",
    oracle="""
    SELECT event_id * 10 + 3 AS pos, 'c' AS kind,
           CAST(event_id AS VARCHAR) AS val
    FROM events
    UNION ALL
    SELECT event_id * 10 + 6, 'xa_prepare',
           'X''' || lower(hex('g' || CAST(event_id AS VARCHAR)))
           || ''',X''' || lower(hex('b' || CAST(event_id % 7 AS VARCHAR)))
           || ''',1'
    FROM events
    UNION ALL
    SELECT event_id * 10 + 1, 'view_change',
           'v-' || CAST(event_id // 50 AS VARCHAR)
    FROM events WHERE event_id % 50 = 0
    """,
)
def s35_binlog_xa_view_change(spark, sf_dir):
    """Each event id becomes one XA transaction: [XA START query,
    TABLE_MAP, rows, XA END query, XA_PREPARE] with a VIEW_CHANGE
    heading every 50th — the rows events inside the XA bracket decode
    exactly like a plain transaction's, the prepare boundary surfaces
    MySQL's X'gtrid',X'bqual',formatID rendering, and view boundaries
    surface their view id. The XA COMMIT arrives later as a plain QUERY
    event (how MySQL logs it), excluded here like every BEGIN/COMMIT
    marker."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_query,
        encode_rows_event,
        encode_table_map,
        encode_view_change,
        encode_xa_prepare,
    )

    TID = 417
    TYPES = [TYPE_LONGLONG]
    METAS = [0]

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                xa = f"X'{e}'"
                parts = []
                if e % 50 == 0:
                    parts.append((e * 10 + 1, encode_view_change(
                        f"v-{e // 50}", e, log_pos=e * 10 + 1)))
                parts += [
                    (e * 10 + 2, encode_query(
                        "shop", f"XA START {xa}", log_pos=e * 10 + 2)),
                    (e * 10 + 2, encode_table_map(
                        TID, "shop", "ledger", TYPES, METAS, [False],
                        log_pos=e * 10 + 2)),
                    (e * 10 + 3, encode_rows_event(
                        WRITE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"after": [e]}], log_pos=e * 10 + 3)),
                    (e * 10 + 5, encode_query(
                        "shop", f"XA END {xa}", log_pos=e * 10 + 5)),
                    (e * 10 + 6, encode_xa_prepare(
                        f"g{e}".encode(), f"b{e % 7}".encode(),
                        log_pos=e * 10 + 6)),
                    (e * 10 + 7, encode_query(
                        "shop", f"XA COMMIT {xa}", log_pos=e * 10 + 7)),
                ]
                for p, m in parts:
                    poss.append(p)
                    msgs.append(m)
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    stream = (
        ev.mapInPandas(enc, "pos long, msg binary")
        .localCheckpoint(eager=True)
    )
    dec = decode_binlog_rows(stream)
    return dec.filter(
        F.col("kind").isin("c", "xa_prepare", "view_change")
    ).select(
        F.col("log_pos").alias("pos"),
        "kind",
        F.element_at("after", 1).alias("val"),
    )


# ---------------------------------------------------------------------------
# S36 — Oracle via OpenLogReplicator: the framed-JSON committed-
# transaction feed (the reference's second Oracle adapter,
# debezium-connector-oracle/.../olr/ — OlrNetworkClient framing,
# StreamingEvent/PayloadEvent object model,
# OpenLogReplicatorValueConverter type semantics).
# ---------------------------------------------------------------------------
@register(
    "s36_olr_stream",
    oracle="""
    SELECT event_id AS id,
           CASE event_type WHEN 'signup' THEN 'c'
                           WHEN 'error' THEN 'd'
                           ELSE 'u' END AS op,
           CAST(CAST(event_id % 1000 + 0.25 AS DECIMAL(10,2))
                AS VARCHAR) AS amt_str,
           'n' || CAST(event_id % 97 AS VARCHAR) AS note,
           CAST(event_id AS BIGINT) * 1000000 + 123456 AS ts_us,
           printf('72%02x', event_id % 256) AS rw_hex,
           CAST(event_id % 20000 AS BIGINT) * 86400000 AS d_ms,
           (1700000000 + event_id) * 1000000 AS tm_us,
           event_id AS cscn,
           event_id % 5 AS cidx,
           'x' || CAST(event_id AS VARCHAR) AS xid
    FROM events
    """,
)
def s36_olr_stream(spark, sf_dir):
    """Each event becomes one OLR streaming event — [begin, mutation,
    commit] payloads, 4-byte-LE framed JSON, ~16 messages packed per
    capture blob so the frame split runs distributed — decoded by ONE
    from_json + posexplode, typed from the feed's OWN schema payloads
    (NUMBER(p,s) -> decimal, VARCHAR2 -> string, TIMESTAMP nanos -> µs,
    RAW hex -> bytes, DATE nanos -> millis). The event timestamp
    rotates through all four epoch units (s/ms/µs/ns) to prove the
    magnitude-inference cascade; deletes read the before image."""
    import json

    import pandas as pd

    from debezium_spark.sources.olr import (
        decode_olr_events,
        encode_olr_frame,
        olr_typed_rows,
        split_olr_frames,
    )

    COLS = [
        {"name": "ID", "type": "NUMBER", "precision": 10, "scale": 0,
         "length": 22, "nullable": False},
        {"name": "AMT", "type": "NUMBER", "precision": 10, "scale": 2,
         "length": 22, "nullable": True},
        {"name": "NOTE", "type": "VARCHAR2", "length": 64,
         "nullable": True},
        {"name": "TS_C", "type": "TIMESTAMP", "length": 11,
         "nullable": True},
        {"name": "RW", "type": "RAW", "length": 16, "nullable": True},
        {"name": "D_C", "type": "DATE", "length": 7, "nullable": True},
    ]

    ev = _events_feed(spark, sf_dir).select("event_id", "event_type")

    def enc(batches):
        for pdf in batches:
            blobs, buf = [], bytearray()
            n_in_blob = 0
            for e, t in zip(pdf["event_id"], pdf["event_type"]):
                e = int(e)
                tm_s = 1_700_000_000 + e
                tm = [tm_s, tm_s * 1_000, tm_s * 1_000_000,
                      tm_s * 1_000_000_000][e % 4]
                vals = {
                    "ID": e,
                    "AMT": f"{e % 1000}.25",
                    "NOTE": f"n{e % 97}",
                    "TS_C": e * 1_000_000_000 + 123_456_000,
                    "RW": f"72{e % 256:02X}",
                    "D_C": (e % 20000) * 86_400_000_000_000,
                }
                op = {"signup": "c", "error": "d"}.get(t, "u")
                mut = {
                    "op": op,
                    "rid": f"AAA{e}",
                    "schema": {"owner": "SHOP", "table": "STOCK",
                               "obj": 5011, "columns": COLS},
                }
                if op == "d":
                    mut["before"] = vals
                elif op == "u":
                    mut["before"] = {**vals, "NOTE": "old"}
                    mut["after"] = vals
                else:
                    mut["after"] = vals
                doc = {
                    "scn": str(e), "tm": str(tm), "xid": f"x{e}",
                    "db": "ORCLPDB1", "c_scn": str(e), "c_idx": e % 5,
                    "payload": [{"op": "begin"}, mut, {"op": "commit"}],
                }
                buf += encode_olr_frame(json.dumps(doc).encode())
                n_in_blob += 1
                if n_in_blob == 16:
                    blobs.append(bytes(buf))
                    buf, n_in_blob = bytearray(), 0
            if buf:
                blobs.append(bytes(buf))
            yield pd.DataFrame({"blob": blobs})

    stream = (
        ev.mapInPandas(enc, "blob binary").localCheckpoint(eager=True)
    )
    msgs = split_olr_frames(stream)
    dec = decode_olr_events(msgs)
    typed = olr_typed_rows(dec, "SHOP", "STOCK")
    return typed.select(
        # NUMBER(10,0) decodes as decimal(10,0); surface the key as a
        # plain long (decimals land as pandas objects, and the in-repo
        # gate is dtype-class-strict)
        F.col("ID").cast("long").alias("id"),
        "op",
        F.col("AMT").cast("string").alias("amt_str"),
        F.col("NOTE").alias("note"),
        F.unix_micros("TS_C").alias("ts_us"),
        F.lower(F.hex("RW")).alias("rw_hex"),
        F.unix_millis("D_C").alias("d_ms"),
        F.unix_micros("tm").alias("tm_us"),
        F.col("c_scn").alias("cscn"),
        F.col("c_idx").alias("cidx"),
        "xid",
    )


# ---------------------------------------------------------------------------
# S19b — binlog column-type widening: NEWDECIMAL / DATE / DATETIME2 /
# TIMESTAMP2 / TIME2 / BLOB / ENUM / SET value layouts through the same
# Arrow decode kernel (the full set the reference's deserializer wiring
# consumes, BinlogStreamingChangeEventSource.java:549-560).
# ---------------------------------------------------------------------------
@register(
    "s19b_binlog_types",
    oracle="""
    SELECT 1000 + event_id AS pos,
           event_id AS id,
           CASE WHEN event_id % 7 = 0 THEN NULL
                ELSE printf('%d.%02d',
                            CAST(floor(value * 100) AS BIGINT) // 100,
                            CAST(floor(value * 100) AS BIGINT) % 100)
           END AS amount_str,
           CAST(DATE '1970-01-01'
                + CAST(event_id % 20000 AS INTEGER) AS VARCHAR) AS d_str,
           strftime(TIMESTAMP '1970-01-01 00:00:00'
                    + CAST(event_id % 20000 AS INTEGER) * INTERVAL 1 DAY
                    + (event_id % 86400) * INTERVAL 1 SECOND
                    + (event_id % 1000) * 1000 * INTERVAL 1 MICROSECOND,
                    '%Y-%m-%d %H:%M:%S.%f') AS dt_str,
           CAST(event_id AS BIGINT) * 1000000 AS ts_us,
           printf('%02d:%02d:%02d',
                  (event_id % 86400) // 3600,
                  (event_id % 86400) % 3600 // 60,
                  event_id % 60) AS tm_str,
           printf('%08x', event_id) AS payload_hex,
           1 + event_id % 5 AS enum_ord,
           event_id % 16 AS set_mask
    FROM events
    """,
)
def s19b_binlog_types(spark, sf_dir):
    """Widened binlog value walk over REAL wire bytes: packed-BCD
    NEWDECIMAL(12,2) (scale from TABLE_MAP metadata), 3-byte DATE,
    sign-biased DATETIME2 at fsp=6, TIMESTAMP2 (surfaced as epoch µs),
    TIME2, lenenc-prefixed BLOB (hex text form), and ENUM ordinal / SET
    bitmask riding the STRING carrier's (real_type, width) metadata.
    NULL cells hit the null-bitmap skip over the new types (every 7th
    row's decimal). The oracle rebuilds every text/numeric form
    closed-form; byte-level goldens live in tests/test_binlog.py."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        ENUM_REAL,
        SET_REAL,
        TYPE_BLOB,
        TYPE_DATE,
        TYPE_DATETIME2,
        TYPE_LONGLONG,
        TYPE_NEWDECIMAL,
        TYPE_STRING,
        TYPE_TIME2,
        TYPE_TIMESTAMP2,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )

    TID = 414
    TYPES = [TYPE_LONGLONG, TYPE_NEWDECIMAL, TYPE_DATE, TYPE_DATETIME2,
             TYPE_TIMESTAMP2, TYPE_TIME2, TYPE_BLOB, TYPE_STRING,
             TYPE_STRING]
    METAS = [0, (12 << 8) | 2, 0, 6, 0, 0, 2, (ENUM_REAL << 8) | 1,
             (SET_REAL << 8) | 2]

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "value"
    )

    def enc(batches):
        from datetime import date, timedelta

        for pdf in batches:
            poss, msgs = [], []
            for e, v in zip(pdf["event_id"], pdf["value"]):
                e, v = int(e), float(v)
                cents = int(v * 100 // 1)
                amount = (
                    None if e % 7 == 0
                    else f"{cents // 100}.{cents % 100:02d}"
                )
                d = (date(1970, 1, 1) + timedelta(days=e % 20000))
                s = e % 86400
                dt = (f"{d.isoformat()} {s // 3600:02d}:"
                      f"{s % 3600 // 60:02d}:{s % 60:02d}"
                      f".{(e % 1000) * 1000:06d}")
                tm = f"{s // 3600:02d}:{s % 3600 // 60:02d}:{e % 60:02d}"
                row = [e, amount, d.isoformat(), dt, e * 1_000_000, tm,
                       e.to_bytes(4, "big"), 1 + e % 5, e % 16]
                poss.append(1000 + e)
                msgs.append(encode_rows_event(
                    WRITE_ROWS_EVENT, TID, TYPES, METAS,
                    [{"before": None, "after": row}], log_pos=1000 + e,
                ))
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc, "pos long, msg binary")
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "wide", TYPES, METAS,
            [False, True] + [False] * 7, log_pos=0,
        )))],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, rel.unionByName(data), sf_dir)
    dec = decode_binlog_rows(stream).filter(F.col("kind") == "c")
    a = F.col("after")
    return dec.select(
        F.col("log_pos").alias("pos"),
        F.element_at(a, 1).cast("long").alias("id"),
        F.element_at(a, 2).alias("amount_str"),
        F.element_at(a, 3).alias("d_str"),
        F.element_at(a, 4).alias("dt_str"),
        F.element_at(a, 5).cast("long").alias("ts_us"),
        F.element_at(a, 6).alias("tm_str"),
        F.element_at(a, 7).alias("payload_hex"),
        F.element_at(a, 8).cast("int").alias("enum_ord"),
        F.element_at(a, 9).cast("int").alias("set_mask"),
    )


# ---------------------------------------------------------------------------
# S23 — LogMiner redo-SQL DML parsing (LogMinerDmlParser.java): the
# value-extraction half of S9. Reconstructed INSERT/UPDATE/DELETE text ->
# column-ordered before/after images through one Arrow kernel.
# ---------------------------------------------------------------------------
@register(
    "s23_logminer_dml",
    oracle="""
    SELECT event_id AS scn,
           CASE WHEN event_id % 4 = 1 THEN 'u'
                WHEN event_id % 4 = 2 THEN 'd' ELSE 'c' END AS op,
           event_id AS id,
           CASE WHEN event_id % 4 = 1 THEN event_type || '_u'
                WHEN event_id % 4 = 2 THEN NULL
                ELSE event_type END AS status_after,
           CASE WHEN event_id % 4 IN (1, 2) THEN event_type END
               AS status_before,
           printf('%d.%02d',
                  CAST(floor(value * 100) AS BIGINT) // 100,
                  CAST(floor(value * 100) AS BIGINT) % 100) AS amount_str,
           CASE WHEN event_id % 4 IN (1, 2) OR event_id % 5 = 0 THEN NULL
                ELSE 'n_' || CAST(user_id AS VARCHAR) END AS note_after,
           strftime(TIMESTAMP '1970-01-01 00:00:00'
                    + event_id * INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS created_ts
    FROM events WHERE event_id % 4 <> 2 OR event_id % 5 <> 0
    """,
)
def s23_logminer_dml(spark, sf_dir):
    """LogMiner redo-SQL value extraction over generated redo text
    (LogMinerDmlParser.java's grammar: double-quoted identifiers,
    ''-escaped strings, unquoted numbers, TO_TIMESTAMP(...) function
    values skipped structurally, explicit-NULL SET sentinel with
    copy-from-before reconciliation, IS NULL predicates). Ops cycle by
    event_id % 4: insert / update (SET changes STATUS and NULLs NOTE;
    WHERE carries the full before image) / delete (WHERE only) — every
    5th delete is WHERE-less (DBZ-3235) and surfaces an all-null before
    image, which the oracle excludes by the same closed form. The
    'u'-op NOTE starts NULL every 5th insert, exercising IS NULL."""
    import pandas as pd

    from debezium_spark.sources.logminer import decode_logminer_dml

    COLS = ["ID", "STATUS", "AMOUNT", "NOTE", "CREATED"]
    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def enc(batches):
        from datetime import datetime, timezone

        for pdf in batches:
            scns, sqls = [], []
            for e, u, t, v in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"],
                pdf["value"],
            ):
                e, u, v = int(e), int(u), float(v)
                cents = int(v * 100 // 1)
                amount = f"{cents // 100}.{cents % 100:02d}"
                ts = datetime.fromtimestamp(e, tz=timezone.utc).strftime(
                    "%Y-%m-%d %H:%M:%S"
                )
                created = f"TO_TIMESTAMP('{ts}', 'YYYY-MM-DD HH24:MI:SS')"
                note = "NULL" if e % 5 == 0 else f"'n_{u}'"
                note_pred = (
                    '"NOTE" IS NULL' if e % 5 == 0 else f"\"NOTE\" = 'n_{u}'"
                )
                if e % 4 == 1:
                    sql = (
                        f'update "ORA"."ORDERS" set "STATUS" = \'{t}_u\', '
                        f'"NOTE" = NULL where "ID" = {e} and '
                        f"\"STATUS\" = '{t}' and \"AMOUNT\" = {amount} and "
                        f'{note_pred} and "CREATED" = {created};'
                    )
                elif e % 4 == 2:
                    if e % 5 == 0:
                        sql = 'delete from "ORA"."ORDERS";'  # DBZ-3235
                    else:
                        sql = (
                            f'delete from "ORA"."ORDERS" where "ID" = {e} '
                            f"and \"STATUS\" = '{t}' and "
                            f'"AMOUNT" = {amount} and {note_pred} and '
                            f'"CREATED" = {created};'
                        )
                else:
                    sql = (
                        'insert into "ORA"."ORDERS"'
                        '("ID","STATUS","AMOUNT","NOTE","CREATED") values '
                        f"({e},'{t}',{amount},{note},{created});"
                    )
                scns.append(e)
                sqls.append(sql)
            yield pd.DataFrame({"scn": scns, "sql_redo": sqls})

    # Materialize the fixture once (a real deployment reads an already-
    # written redo log, and the timed decode must not re-run the encode)
    redo = ev.mapInPandas(
        enc, "scn long, sql_redo string"
    ).localCheckpoint(eager=True)
    dec = decode_logminer_dml(redo, COLS)
    a, b = F.col("after"), F.col("before")
    img = F.coalesce(a, b)  # delete has only a before image
    return dec.filter(
        # WHERE-less deletes carry no key — quarantined from the compare
        # (their all-null image is pinned by tests/test_logminer.py)
        F.element_at(img, 1).isNotNull()
    ).select(
        "scn",
        "op",
        F.element_at(img, 1).cast("long").alias("id"),
        F.element_at(a, 2).alias("status_after"),
        F.when(F.col("op") != "c", F.element_at(b, 2)).alias(
            "status_before"
        ),
        F.element_at(img, 3).alias("amount_str"),
        F.element_at(a, 4).alias("note_after"),
        F.regexp_extract(F.element_at(img, 5), "'([^']+)'", 1).alias(
            "created_ts"
        ),
    )


# ---------------------------------------------------------------------------
# S24 — binlog-row-image=MINIMAL: partial row images (PK-only before,
# changed-column-only after) through decode + merge; absent != NULL.
# ---------------------------------------------------------------------------
@register(
    "s24_binlog_minimal_images",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY event_id
               ) AS r,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM events
    ),
    typed AS (
        SELECT *,
               (r > 1 AND r = cnt AND user_id % 13 = 0) AS is_del,
               (r > 1 AND NOT (r = cnt AND user_id % 13 = 0)) AS is_upd
        FROM ranked
    ),
    vals AS (
        SELECT user_id, event_id, is_del,
               CASE WHEN r = 1 THEN event_type
                    WHEN is_upd AND event_id % 3 = 0
                    THEN event_type || '_u' || CAST(event_id AS VARCHAR)
               END AS status_val,
               (r = 1 OR (is_upd AND event_id % 3 = 0)) AS status_p,
               CASE WHEN r = 1 OR (is_upd AND event_id % 3 = 1)
                    THEN cents END AS bal_val,
               (r = 1 OR (is_upd AND event_id % 3 = 1)) AS bal_p,
               CASE WHEN r = 1 THEN 'n_' || CAST(user_id AS VARCHAR)
                    WHEN is_upd AND event_id % 3 = 2 AND event_id % 7 <> 0
                    THEN 'n_' || CAST(event_id AS VARCHAR)
               END AS note_val,
               (r = 1 OR (is_upd AND event_id % 3 = 2)) AS note_p
        FROM typed
    )
    SELECT user_id AS id,
           arg_max(status_val, event_id) FILTER (WHERE status_p) AS status,
           arg_max(bal_val, event_id) FILTER (WHERE bal_p) AS balance,
           nullif(arg_max(coalesce(note_val, '~~absent~~'), event_id)
                      FILTER (WHERE note_p),
                  '~~absent~~') AS note
    FROM vals
    GROUP BY user_id
    HAVING NOT bool_or(is_del)
    """,
)
def s24_binlog_minimal_images(spark, sf_dir):
    """binlog-row-image=MINIMAL end-to-end: per user the first event
    INSERTs the full row, later events are MINIMAL updates whose before
    image carries ONLY the PK and whose after image carries ONLY the one
    changed column (status / balance / note cycling by event_id % 3;
    every 7th note update sets an EXPLICIT NULL — present with the null
    bit, distinct from absent), and every 13th user's last event is a
    PK-only DELETE. ``fold_partial_images`` merges: each column takes
    its latest PRESENT value, absent keeps prior state, explicit NULL
    nulls, delete drops the row. A naive absent==NULL merge fails the
    hash immediately (most rows would null two of three columns)."""
    import pandas as pd

    from debezium_spark.operators.reduce import fold_partial_images
    from debezium_spark.sources.binlog import (
        DELETE_ROWS_EVENT,
        TYPE_LONGLONG,
        TYPE_VARCHAR,
        UPDATE_ROWS_EVENT,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )
    from pyspark.sql import Window

    TID = 515
    TYPES = [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_LONGLONG, TYPE_VARCHAR]
    METAS = [0, 64, 0, 64]
    PK_ONLY = [True, False, False, False]

    w = Window.partitionBy("user_id").orderBy("event_id")
    ev = (
        _events_feed(spark, sf_dir)
        .select("event_id", "user_id", "event_type", "value")
        .withColumn("r", F.row_number().over(w))
        .withColumn(
            "cnt", F.count("*").over(Window.partitionBy("user_id"))
        )
    )

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e, u, t, v, r, cnt in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"],
                pdf["value"], pdf["r"], pdf["cnt"],
            ):
                e, u, r, cnt = int(e), int(u), int(r), int(cnt)
                cents = int(float(v) * 100 // 1)
                pos = 1000 + e
                if r == 1:
                    msg = encode_rows_event(
                        WRITE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": None,
                          "after": [u, t, cents, f"n_{u}"]}],
                        log_pos=pos,
                    )
                elif r == cnt and u % 13 == 0:
                    msg = encode_rows_event(
                        DELETE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": [u, None, None, None],
                          "after": None}],
                        present=PK_ONLY, log_pos=pos,
                    )
                else:
                    ch = e % 3 + 1  # changed column: status/balance/note
                    vals = {
                        1: f"{t}_u{e}",
                        2: cents,
                        3: None if e % 7 == 0 else f"n_{e}",
                    }
                    after = [None] * 4
                    after[ch] = vals[ch]
                    pres_after = [False] * 4
                    pres_after[ch] = True
                    msg = encode_rows_event(
                        UPDATE_ROWS_EVENT, TID, TYPES, METAS,
                        [{"before": [u, None, None, None],
                          "after": after}],
                        present=PK_ONLY, present_after=pres_after,
                        log_pos=pos,
                    )
                poss.append(pos)
                msgs.append(msg)
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc, "pos long, msg binary")
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "accounts", TYPES, METAS,
            [False, False, False, True], log_pos=0,
        )))],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, rel.unionByName(data), sf_dir)
    folded = fold_partial_images(decode_binlog_rows(stream), n_cols=4)
    return folded.select(
        F.col("__key").cast("long").alias("id"),
        F.col("c1").alias("status"),
        F.col("c2").cast("long").alias("balance"),
        F.col("c3").alias("note"),
    )


# ---------------------------------------------------------------------------
# S25 — LogMiner end-to-end: redo text -> DML parse -> commit-gated,
# commit-ORDERED emission -> LWW-merged table (s20's shape for Oracle).
# ---------------------------------------------------------------------------
@register(
    "s25_logminer_to_table",
    oracle="""
    WITH evs AS (
        SELECT user_id,
               event_type AS status,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               (event_id // 100) * 1000
                   + CASE WHEN event_id % 2 = 0 THEN 999 ELSE 998 END
                   AS commit_scn,
               (event_id // 100) * 1000 + 100 + event_id % 100 AS scn
        FROM events
        WHERE NOT (event_id % 2 = 1 AND (event_id // 100) % 17 = 0)
    )
    SELECT user_id AS id,
           arg_max(status, commit_scn * 10000000 + scn) AS status,
           arg_max(cents, commit_scn * 10000000 + scn) AS balance
    FROM evs GROUP BY user_id
    """,
)
def s25_logminer_to_table(spark, sf_dir):
    """The full Oracle CDC slice over redo TEXT: V$LOGMNR_CONTENTS-shaped
    rows (scn, xid, redo SQL; commit markers as OPERATION_CODE 7 rows) →
    DML parse → commit gate (a tx with no COMMIT row never emits —
    every 17th group's odd-xid tx stays open) → commit-ORDERED last-write
    -wins (order is (commit_scn, scn), NOT data-row scn: within each
    group the odd tx's rows interleave the even tx's but the even tx
    commits LAST and must win every contested key) → merged table.
    Buffered-commit emission per BufferedLogMinerStreamingChangeEventSource;
    the tx attach is a hash join on xid (tx count scales with the log —
    never a broadcast assumption), the fold is k4's keyed reduction."""
    import pandas as pd

    from debezium_spark.operators.reduce import reduce_last_per_key
    from debezium_spark.sources.logminer import decode_logminer_dml

    COLS = ["ID", "STATUS", "AMOUNT"]
    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def enc(batches):
        for pdf in batches:
            scns, xids, sqls = [], [], []
            for e, u, t, v in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"],
                pdf["value"],
            ):
                e, u = int(e), int(u)
                cents = int(float(v) * 100 // 1)
                g = e // 100
                scns.append(g * 1000 + 100 + e % 100)
                xids.append(f"{g}.{e % 2}")
                sqls.append(
                    'insert into "ORA"."ACCOUNTS"("ID","STATUS","AMOUNT") '
                    f"values ({u},'{t}',{cents // 100}.{cents % 100:02d});"
                )
            yield pd.DataFrame(
                {"scn": scns, "xid": xids, "sql_redo": sqls}
            )

    redo = ev.mapInPandas(
        enc, "scn long, xid string, sql_redo string"
    ).localCheckpoint(eager=True)

    def enc_commits(batches):
        for pdf in batches:
            scns, xids = [], []
            for g in pdf["g"]:
                g = int(g)
                # even-xid tx commits LAST (wins LWW); the odd-xid tx of
                # every 17th group never commits (stays buffered)
                scns.append(g * 1000 + 999)
                xids.append(f"{g}.0")
                if g % 17 != 0:
                    scns.append(g * 1000 + 998)
                    xids.append(f"{g}.1")
            yield pd.DataFrame({"commit_scn": scns, "xid": xids})

    commits = (
        ev.select(F.expr("event_id DIV 100").alias("g"))
        .distinct()
        .mapInPandas(enc_commits, "commit_scn long, xid string")
    )

    dec = decode_logminer_dml(redo, COLS, passthrough=("xid",))
    # commit gate + commit position in one hash join on the tx id
    emitted = dec.join(commits, "xid", "inner").withColumn(
        "__ord", F.col("commit_scn") * F.lit(10_000_000) + F.col("scn")
    )
    rows = emitted.select(
        F.element_at("after", 1).cast("long").alias("id"),
        F.element_at("after", 2).alias("status"),
        (F.element_at("after", 3).cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("balance"),
        "__ord",
    )
    return reduce_last_per_key(
        rows, key_cols=("id",), order_col="__ord"
    ).drop("__ord")


# ---------------------------------------------------------------------------
# S26 — schema-history column naming/typing for binlog rows: DDL QUERY
# events fold through the tracker; positional images become NAMED, TYPED
# columns per schema version (MySqlDatabaseSchema/TableSchemaBuilder).
# ---------------------------------------------------------------------------
@register(
    "s26_binlog_schema_naming",
    oracle="""
    WITH mid AS (SELECT (max(event_id) + 1) // 2 AS m FROM events)
    SELECT 1000 + event_id AS pos,
           event_id AS id,
           event_type AS status,
           printf('%d.%02d',
                  CAST(floor(value * 100) AS BIGINT) // 100,
                  CAST(floor(value * 100) AS BIGINT) % 100) AS amount_str,
           CASE WHEN event_id >= (SELECT m FROM mid)
                THEN CAST(event_id % 100 AS INTEGER) END AS qty
    FROM events
    """,
)
def s26_binlog_schema_naming(spark, sf_dir):
    """Binlog rows carry NO column names or SQL types — the reference
    resolves both from tracked DDL (MySqlDatabaseSchema applies QUERY-
    event DDL, TableSchemaBuilder names the positional images). Fixture:
    CREATE TABLE, half the stream, ALTER TABLE ADD COLUMN qty (with the
    new TABLE_MAP id the server would assign), the other half with
    5-value rows. The DDL QUERY events fold driver-side through
    DdlSchemaTracker (rare + strictly ordered, same budget as the
    reference's single reader thread); ``named_typed_rows`` projects
    each schema-version window with its own name/type list and unions by
    NAME — pre-ALTER rows surface qty as a typed NULL. Decimal types
    come from the DDL (DECIMAL(12,2) -> decimal(12,2)), surfaced via the
    fixed-scale string form for the cross-engine hash."""
    import pandas as pd

    from debezium_spark.schema.ddl import DdlSchemaTracker
    from debezium_spark.schema.history import MemorySchemaHistory
    from debezium_spark.sources.binlog import (
        TYPE_LONG,
        TYPE_LONGLONG,
        TYPE_NEWDECIMAL,
        TYPE_VARCHAR,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_query,
        encode_rows_event,
        encode_table_map,
        named_typed_rows,
    )

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    mid = (ev.agg((F.max("event_id") + 1) / 2).first()[0]) or 0
    mid = int(mid)

    T1, T2 = 616, 617
    TYPES1 = [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_NEWDECIMAL]
    METAS1 = [0, 64, (12 << 8) | 2]
    TYPES2 = TYPES1 + [TYPE_LONG]
    METAS2 = METAS1 + [0]

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e, t, v in zip(
                pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                e = int(e)
                cents = int(float(v) * 100 // 1)
                amount = f"{cents // 100}.{cents % 100:02d}"
                pos = 1000 + e
                if e < mid:
                    msg = encode_rows_event(
                        WRITE_ROWS_EVENT, T1, TYPES1, METAS1,
                        [{"before": None, "after": [e, t, amount]}],
                        log_pos=pos,
                    )
                else:
                    msg = encode_rows_event(
                        WRITE_ROWS_EVENT, T2, TYPES2, METAS2,
                        [{"before": None,
                          "after": [e, t, amount, e % 100]}],
                        log_pos=pos,
                    )
                poss.append(pos)
                msgs.append(msg)
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc, "pos long, msg binary")
    head = spark.createDataFrame(
        [
            (0, bytearray(encode_query(
                "inventory",
                "CREATE TABLE products ("
                " id BIGINT PRIMARY KEY,"
                " status VARCHAR(64),"
                " amount DECIMAL(12,2))",
                log_pos=0,
            ))),
            (1, bytearray(encode_table_map(
                T1, "inventory", "products", TYPES1, METAS1,
                [False, True, True], log_pos=1,
            ))),
            (1000 + mid, bytearray(encode_query(
                "inventory",
                "ALTER TABLE products ADD COLUMN qty INT",
                log_pos=1000 + mid,
            ))),
            (1000 + mid, bytearray(encode_table_map(
                T2, "inventory", "products", TYPES2, METAS2,
                [False, True, True, True], log_pos=1000 + mid,
            ))),
        ],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, head.unionByName(data), sf_dir)
    dec = decode_binlog_rows(stream)

    # fold the DDL through the tracker (rare, ordered — driver-side by
    # design, the reference's single-reader-thread budget)
    tracker = DdlSchemaTracker(MemorySchemaHistory(spark))
    versions = []
    for r in sorted(
        dec.filter(
            (F.col("kind") == "query")
            & (F.element_at("after", 1) != "BEGIN")
        ).select("log_pos", F.element_at("after", 1).alias("ddl")).collect(),
        key=lambda r: r["log_pos"],
    ):
        tracker.apply(r["ddl"], r["log_pos"])
        versions.append((
            r["log_pos"],
            [(c.name, c.spark_type)
             for c in tracker.table_columns("products")],
        ))
    named = named_typed_rows(dec, versions)
    return named.select(
        "log_pos",
        "id",
        "status",
        F.col("amount").cast("string").alias("amount_str"),
        "qty",
    ).withColumnRenamed("log_pos", "pos")


# ---------------------------------------------------------------------------
# S27 — SQL Server change-table assembly: __$operation 1/2/3/4 rows ->
# change events, update halves paired under (__$start_lsn, __$seqval)
# (SqlServerChangeRecordEmitter.java:21-24).
# ---------------------------------------------------------------------------
@register(
    "s27_sqlserver_changetable",
    oracle="""
    SELECT event_id AS start_lsn,
           CASE WHEN event_id % 4 = 1 THEN 'u'
                WHEN event_id % 4 = 2 THEN 'd' ELSE 'c' END AS op,
           event_id AS id,
           CASE WHEN event_id % 4 IN (1, 2) THEN event_type
           END AS status_before,
           CASE WHEN event_id % 4 = 1 THEN event_type || '_u'
                WHEN event_id % 4 = 2 THEN NULL
                ELSE event_type END AS status_after,
           CASE WHEN event_id % 4 = 2 THEN NULL
                ELSE CAST(floor(value * 100) AS BIGINT)
           END AS balance_after
    FROM events
    """,
)
def s27_sqlserver_changetable(spark, sf_dir):
    """SQL Server CDC's change-table row shape assembled into events:
    inserts (op 2) and deletes (op 1) are single rows, updates arrive as
    an op-3 before-half and op-4 after-half sharing one
    (__$start_lsn, __$seqval) — paired here by one hash aggregation (the
    reference pairs them by stream adjacency and throws on a missing
    twin; the groupBy guard raises the same way). The oracle rebuilds
    op, both images, and the pairing from the closed form."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    ins = ev.filter(F.col("event_id") % 4 % 3 == 0).select(
        F.col("event_id").alias("start_lsn"),
        F.lit(0).alias("seqval"),
        F.lit(2).alias("operation"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("status"),
        cents.alias("balance"),
    )
    dels = ev.filter(F.col("event_id") % 4 == 2).select(
        F.col("event_id").alias("start_lsn"),
        F.lit(0).alias("seqval"),
        F.lit(1).alias("operation"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("status"),
        cents.alias("balance"),
    )
    upd = ev.filter(F.col("event_id") % 4 == 1)
    upd_before = upd.select(
        F.col("event_id").alias("start_lsn"),
        F.lit(0).alias("seqval"),
        F.lit(3).alias("operation"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("status"),
        cents.alias("balance"),
    )
    upd_after = upd.select(
        F.col("event_id").alias("start_lsn"),
        F.lit(0).alias("seqval"),
        F.lit(4).alias("operation"),
        F.col("event_id").alias("id"),
        F.concat(F.col("event_type"), F.lit("_u")).alias("status"),
        cents.alias("balance"),
    )
    change_table = (
        ins.unionByName(dels).unionByName(upd_before).unionByName(upd_after)
    )

    from debezium_spark.sources.polling import assemble_change_table

    out = assemble_change_table(
        change_table, value_cols=["id", "status", "balance"]
    )
    return out.select(
        "start_lsn",
        "op",
        F.coalesce(F.col("after")["id"], F.col("before")["id"]).alias("id"),
        F.col("before")["status"].alias("status_before"),
        F.col("after")["status"].alias("status_after"),
        F.col("after")["balance"].alias("balance_after"),
    )


# ---------------------------------------------------------------------------
# S33 — SQL Server capture-instance migration: a mid-stream column rename
# creates a second capture instance with an overlapping LSN range; the old
# instance's rows at-or-past the new instance's start LSN must be skipped
# and the merged stream aligns columns by name
# (SqlServerStreamingChangeEventSource.java:465-536, :315-321).
# ---------------------------------------------------------------------------
@register(
    "s33_sqlserver_capture_migration",
    oracle=f"""
    SELECT event_id AS pos,
           'c' AS op,
           event_id AS id,
           CASE WHEN event_id < {DDL_POS_SQL} THEN event_type END AS status,
           CASE WHEN event_id >= {DDL_POS_SQL} THEN event_type END AS state,
           CASE WHEN event_id >= {DDL_POS_SQL}
                THEN upper(substr(event_type, 1, 1)) END AS tier
    FROM events
    """,
)
def s33_sqlserver_capture_migration(spark, sf_dir):
    """The migration golden the reference's getChangeTablesToQuery
    implements: instance v1 (id, status) keeps capturing PAST the rename
    (its change table carries rows beyond the new instance's start — the
    real overlap), instance v2 (id, state, tier) starts at the rename
    LSN. Without the stop-LSN skip every post-rename change would emit
    TWICE; without name-aligned union the renamed column would silently
    collapse. The split is scale-relative (max(pos)//2)."""
    from debezium_spark.sources.polling import (
        assemble_change_table,
        migrate_capture_instances,
    )

    ev = _events_feed(spark, sf_dir).select("event_id", "event_type")
    bounds = ev.agg(
        F.min("event_id").alias("lo"), F.max("event_id").alias("mx")
    ).collect()[0]
    lo, split = int(bounds["lo"]), int(bounds["mx"]) // 2
    # v1's change table: ALL rows (SQL Server keeps writing to the old
    # instance), pre-rename column names
    v1 = ev.select(
        F.col("event_id").alias("start_lsn"),
        F.lit(0).alias("seqval"),
        F.lit(2).alias("operation"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("status"),
    )
    # v2's change table: rows from the rename on, renamed + added columns
    v2 = ev.filter(F.col("event_id") >= split).select(
        F.col("event_id").alias("start_lsn"),
        F.lit(0).alias("seqval"),
        F.lit(2).alias("operation"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("state"),
        F.upper(F.substring("event_type", 1, 1)).alias("tier"),
    )
    merged = migrate_capture_instances([(lo, v1), (split, v2)])
    out = assemble_change_table(
        merged, value_cols=["id", "status", "state", "tier"]
    )
    return out.select(
        F.col("start_lsn").alias("pos"),
        "op",
        F.col("after")["id"].alias("id"),
        F.col("after")["status"].alias("status"),
        F.col("after")["state"].alias("state"),
        F.col("after")["tier"].alias("tier"),
    )


# ---------------------------------------------------------------------------
# S19c — the rest of the binlog type switch: the fixed-width integer family
# (TINY/SHORT/INT24), FLOAT, YEAR and BIT, over real wire bytes.
# ---------------------------------------------------------------------------
@register(
    "s19c_binlog_small_types",
    oracle="""
    SELECT 3000 + event_id AS pos,
           event_id AS id,
           event_id % 256 - 128 AS tiny_v,
           event_id % 65536 - 32768 AS short_v,
           (event_id * 7919) % 16777216 - 8388608 AS int24_v,
           (event_id % 4001 - 2000) / 4.0 AS float_v,
           CASE WHEN event_id % 50 = 0 THEN 0
                ELSE 1901 + event_id % 155 END AS year_v,
           CASE WHEN event_id % 5 = 0 THEN NULL
                ELSE event_id % 1024 END AS bit_mask
    FROM events
    """,
)
def s19c_binlog_small_types(spark, sf_dir):
    """Fixed-width binlog value walk: TINY (1-byte signed), SHORT (2 LE),
    INT24 (3-byte signed LE), FLOAT (IEEE single, surfaced through the
    numeric array exactly like DOUBLE — quarters so the f32→f64 widening
    is exact), YEAR (1 byte since 1900, 0 = zero-year), and BIT(10)
    (big-endian over ceil(bits/8) bytes, width from the 2-byte TABLE_MAP
    metadata; every 5th row NULL to walk the null bitmap). Completes the
    deserializer type switch the reference wires up
    (BinlogStreamingChangeEventSource.java:549-560). Byte goldens live in
    tests/test_binlog.py."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        TYPE_BIT,
        TYPE_FLOAT,
        TYPE_INT24,
        TYPE_LONGLONG,
        TYPE_SHORT,
        TYPE_TINY,
        TYPE_YEAR,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )

    TID = 415
    TYPES = [TYPE_LONGLONG, TYPE_TINY, TYPE_SHORT, TYPE_INT24,
             TYPE_FLOAT, TYPE_YEAR, TYPE_BIT]
    METAS = [0, 0, 0, 0, 4, 0, 10]

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                row = [
                    e,
                    e % 256 - 128,
                    e % 65536 - 32768,
                    (e * 7919) % (1 << 24) - (1 << 23),
                    (e % 4001 - 2000) / 4.0,
                    0 if e % 50 == 0 else 1901 + e % 155,
                    None if e % 5 == 0 else e % 1024,
                ]
                poss.append(3000 + e)
                msgs.append(encode_rows_event(
                    WRITE_ROWS_EVENT, TID, TYPES, METAS,
                    [{"before": None, "after": row}], log_pos=3000 + e,
                ))
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc, "pos long, msg binary")
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "narrow", TYPES, METAS,
            [False] * 6 + [True], log_pos=0,
        )))],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, rel.unionByName(data), sf_dir)
    dec = decode_binlog_rows(stream).filter(F.col("kind") == "c")
    a = F.col("after")
    return dec.select(
        F.col("log_pos").alias("pos"),
        F.element_at(a, 1).cast("long").alias("id"),
        F.element_at(a, 2).cast("int").alias("tiny_v"),
        F.element_at(a, 3).cast("int").alias("short_v"),
        F.element_at(a, 4).cast("int").alias("int24_v"),
        F.element_at(F.col("after_nums"), 5).alias("float_v"),
        F.element_at(a, 6).cast("int").alias("year_v"),
        F.element_at(a, 7).cast("int").alias("bit_mask"),
    )


# ---------------------------------------------------------------------------
# S19d — TABLE_MAP optional metadata (MySQL 8 TLVs): SIGNEDNESS-driven
# unsigned integer decode + ENUM/SET labels resolved from the WIRE
# (ENUM_STR_VALUE/SET_STR_VALUE) instead of tracked DDL — the metadata the
# reference consumes through its binlog client's TableMapEventMetadata.
# ---------------------------------------------------------------------------
@register(
    "s19d_binlog_unsigned_labels",
    oracle="""
    SELECT 6000 + event_id AS pos,
           event_id AS id,
           200 + event_id % 56 AS u8,
           40000 + event_id % 25000 AS u16,
           8400000 + event_id % 8000000 AS u24,
           3000000000 + event_id AS u32,
           5000000000000000000 + event_id AS u64,
           CASE event_id % 4 WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
                WHEN 2 THEN 'gold' ELSE 'platinum' END AS tier,
           CASE event_id % 4 WHEN 0 THEN ''
                WHEN 1 THEN 'read'
                WHEN 2 THEN 'write'
                ELSE 'read,write' END AS perms
    FROM events
    """,
)
def s19d_binlog_unsigned_labels(spark, sf_dir):
    """MySQL-8 TABLE_MAP optional metadata through the decode kernel:
    the SIGNEDNESS bitmap makes TINY/SHORT/INT24/LONG/LONGLONG decode
    unsigned — every fixture value sits ABOVE its signed type's max, so
    a signed decode would go negative and break the hash — and ENUM/SET
    ordinals resolve against the wire-declared label tables
    (1-based ordinals, 0 = MySQL's invalid-value empty string; SET
    bitmasks join labels with commas). No DDL tracking involved."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        TYPE_INT24,
        TYPE_LONG,
        TYPE_LONGLONG,
        TYPE_SHORT,
        TYPE_STRING,
        TYPE_TINY,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )

    TID = 418
    TYPES = [TYPE_LONGLONG, TYPE_TINY, TYPE_SHORT, TYPE_INT24,
             TYPE_LONG, TYPE_LONGLONG, TYPE_STRING, TYPE_STRING]
    METAS = [0, 0, 0, 0, 0, 0, (247 << 8) | 1, (248 << 8) | 1]
    UNSIGNED = [False, True, True, True, True, True, False, False]

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                after = [
                    e,
                    200 + e % 56,                      # > int8 max
                    40000 + e % 25000,                 # > int16 max
                    8_400_000 + e % 8_000_000,         # > int24 max
                    3_000_000_000 + e,                 # > int32 max
                    5_000_000_000_000_000_000 + e,
                    e % 4 + 1,                         # enum ordinal
                    (0, 1, 2, 3)[e % 4],               # set bitmask
                ]
                poss.append(6000 + e)
                msgs.append(encode_rows_event(
                    WRITE_ROWS_EVENT, TID, TYPES, METAS,
                    [{"before": None, "after": after}],
                    unsigned=UNSIGNED, log_pos=6000 + e,
                ))
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc, "pos long, msg binary")
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "unsigned_t", TYPES, METAS,
            [False] * 8,
            unsigned=UNSIGNED,
            column_names=["id", "u8", "u16", "u24", "u32", "u64",
                          "tier", "perms"],
            enum_values=[["bronze", "silver", "gold", "platinum"]],
            set_values=[["read", "write"]],
            log_pos=0,
        )))],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, rel.unionByName(data), sf_dir)
    dec = decode_binlog_rows(stream).filter(F.col("kind") == "c")
    a = F.col("after")
    return dec.select(
        F.col("log_pos").alias("pos"),
        F.element_at(a, 1).cast("long").alias("id"),
        F.element_at(a, 2).cast("int").alias("u8"),
        F.element_at(a, 3).cast("int").alias("u16"),
        F.element_at(a, 4).cast("int").alias("u24"),
        F.element_at(a, 5).cast("long").alias("u32"),
        F.element_at(a, 6).cast("long").alias("u64"),
        F.element_at(a, 7).alias("tier"),
        F.element_at(a, 8).alias("perms"),
    )


# ---------------------------------------------------------------------------
# S28 — MySQL binary JSON: the binlog ships JSON columns as JSONB trees,
# decoded here to the text the reference's JsonBinary rendering produces.
# ---------------------------------------------------------------------------
@register(
    "s28_binlog_json",
    oracle="""
    SELECT 4000 + event_id AS pos,
           event_id AS id,
           CASE WHEN event_id % 11 = 0 THEN NULL ELSE
             '{"m":{"a":' || event_id % 7 || '},"id":' || event_id
             || ',"ok":' || CASE event_id % 3 WHEN 0 THEN 'true'
                                 WHEN 1 THEN 'false' ELSE 'null' END
             || ',"name":"ev-' || event_id
             || '","tags":["t' || event_id % 10 || '","common"],"score":'
             || event_id * 1000003 + 5000000000 || '}'
           END AS doc
    FROM events
    """,
)
def s28_binlog_json(spark, sf_dir):
    """Binary JSON through the binlog: each row carries a JSONB document
    (nested object/array, literals true/false/null, int16/int32/int64
    inlining and spill, varlen strings) built by the fixture encoder,
    decoded back to text by the wire decoder's TYPE_JSON branch — the
    reference's path through JsonBinary.parseAsString (the JSON branch of
    BinlogStreamingChangeEventSource.java:549-560). Object keys render in
    STORED order, i.e. the server's (length, bytes) key sort — the oracle
    string is built in exactly that order. Every 11th document is NULL
    (null-bitmap walk); 'score' rides int64, forcing the non-inlined
    spill path."""
    import pandas as pd

    from debezium_spark.sources.binlog import (
        TYPE_JSON,
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )

    TID = 416
    TYPES = [TYPE_LONGLONG, TYPE_JSON]
    METAS = [0, 4]

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                doc = None if e % 11 == 0 else {
                    "id": e,
                    "ok": (True, False, None)[e % 3],
                    "m": {"a": e % 7},
                    "name": f"ev-{e}",
                    "tags": [f"t{e % 10}", "common"],
                    "score": e * 1000003 + 5_000_000_000,
                }
                poss.append(4000 + e)
                msgs.append(encode_rows_event(
                    WRITE_ROWS_EVENT, TID, TYPES, METAS,
                    [{"before": None, "after": [e, doc]}],
                    log_pos=4000 + e,
                ))
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    data = ev.mapInPandas(enc, "pos long, msg binary")
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "docs", TYPES, METAS,
            [False, True], log_pos=0,
        )))],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, rel.unionByName(data), sf_dir)
    dec = decode_binlog_rows(stream).filter(F.col("kind") == "c")
    a = F.col("after")
    return dec.select(
        F.col("log_pos").alias("pos"),
        F.element_at(a, 1).cast("long").alias("id"),
        F.element_at(a, 2).alias("doc"),
    )


# ---------------------------------------------------------------------------
# S28b — JSONB OPAQUE values: CAST decimals/dates/times/datetimes packed
# inside JSON documents (the binlog client's JsonBinary opaque switch:
# NEWDECIMAL packed-BCD, the 8-byte packed temporal, base64:typeN for the
# rest) + the zero-length document -> SQL NULL rule
# (BinlogValueConverters.convertJson).
# ---------------------------------------------------------------------------
@register(
    "s28b_binlog_json_opaque",
    oracle="""
    SELECT 5000 + event_id AS pos,
           event_id AS id,
           CASE WHEN event_id % 11 = 0 THEN NULL ELSE
             '{"id":' || event_id
             || ',"ts":"' || printf('%04d-%02d-%02d %02d:%02d:%02d.%06d',
                    2020, event_id % 12 + 1, event_id % 28 + 1,
                    event_id % 24, event_id % 60, event_id % 60,
                    (event_id % 1000) * 1000)
             || '","bin":"base64:type15:'
             || to_base64(encode(CAST(event_id AS VARCHAR)))
             || '","day":"' || printf('%04d-%02d-%02d',
                    1970 + event_id % 50, event_id % 12 + 1,
                    event_id % 28 + 1)
             || '","dec":' || printf('%d.%03d',
                    event_id % 100000, event_id % 1000)
             || ',"tod":"' || printf('%02d:%02d:%02d.%06d',
                    event_id % 24, event_id % 60, event_id % 60,
                    (event_id % 997) * 17 % 1000000)
             || '"}'
           END AS doc
    FROM events
    """,
)
def s28b_binlog_json_opaque(spark, sf_dir):
    """OPAQUE values through the binlog JSON path: each document packs a
    CAST decimal (packed-BCD at a fixed scale), a date, a time and a
    datetime (8-byte packed temporals) plus a base64-rendered opaque of
    an unmapped column type — decoded to exactly the text MySQL's JSON
    output produces (bare number at the stored scale, quoted
    'yyyy-mm-dd', 'hh:mm:ss.ffffff', 'base64:typeN:…'). Every 11th row
    ships a ZERO-LENGTH document — what the server writes for a JSON
    column holding SQL NULL — which must surface as NULL, not an error
    (BinlogValueConverters.convertJson). Keys render in the server's
    (length, bytes) stored order; the oracle builds the string in that
    exact order."""
    import base64 as _b64

    import pandas as pd

    from debezium_spark.sources.binlog import (
        TYPE_JSON,
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )
    from debezium_spark.sources.jsonb import (
        JsonDate,
        JsonDatetime,
        JsonDecimal,
        JsonOpaque,
        JsonTime,
    )

    TID = 417
    TYPES = [TYPE_LONGLONG, TYPE_JSON]
    METAS = [0, 4]

    ev = _events_feed(spark, sf_dir).select("event_id")

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e in pdf["event_id"]:
                e = int(e)
                doc = b"" if e % 11 == 0 else {
                    "id": e,
                    "dec": JsonDecimal(
                        f"{e % 100000}.{e % 1000:03d}", 12, 3
                    ),
                    "day": JsonDate(1970 + e % 50, e % 12 + 1,
                                    e % 28 + 1),
                    "tod": JsonTime(e % 24, e % 60, e % 60,
                                    (e % 997) * 17 % 1000000),
                    "ts": JsonDatetime(2020, e % 12 + 1, e % 28 + 1,
                                       e % 24, e % 60, e % 60,
                                       (e % 1000) * 1000),
                    "bin": JsonOpaque(15, str(e).encode()),
                }
                poss.append(5000 + e)
                msgs.append(encode_rows_event(
                    WRITE_ROWS_EVENT, TID, TYPES, METAS,
                    [{"before": None, "after": [e, doc]}],
                    log_pos=5000 + e,
                ))
            yield pd.DataFrame({"pos": poss, "msg": msgs})

    # sanity-pin the base64 rendering the oracle reproduces
    assert _b64.b64encode(b"7").decode() == "Nw=="

    data = ev.mapInPandas(enc, "pos long, msg binary")
    rel = spark.createDataFrame(
        [(0, bytearray(encode_table_map(
            TID, "inventory", "docs2", TYPES, METAS,
            [False, True], log_pos=0,
        )))],
        "pos long, msg binary",
    )
    stream = _materialize_stream(spark, rel.unionByName(data), sf_dir)
    dec = decode_binlog_rows(stream).filter(F.col("kind") == "c")
    a = F.col("after")
    return dec.select(
        F.col("log_pos").alias("pos"),
        F.element_at(a, 1).cast("long").alias("id"),
        F.element_at(a, 2).alias("doc"),
    )


# ---------------------------------------------------------------------------
# S29 — LogMiner LOB support: SEL_LOB_LOCATOR/LOB_WRITE fragment chains
# merged into their owning DML (the reference's lob.enabled commit pass).
# ---------------------------------------------------------------------------
@register(
    "s29_logminer_lob",
    oracle="""
    WITH base AS (
        SELECT event_id AS e, event_type AS et,
               'note-' || event_id || ':' || event_type AS note_full
        FROM events
    ),
    creates AS (
        SELECT e * 10 AS scn,
               't' || (e // 100) AS tx,
               'r' || e AS row_id,
               'c' AS op,
               e AS id,
               et AS status,
               CASE
                 WHEN e % 4 = 2 THEN 'inline-' || e
                 WHEN e % 4 = 3 THEN substr(note_full, 1, 5) || 'XX'
                                     || substr(note_full, 8)
                 ELSE note_full
               END AS note
        FROM base
    ),
    extra_updates AS (
        SELECT e * 10 + 4 AS scn,
               't' || (e // 100) AS tx,
               'r' || e AS row_id,
               'u' AS op,
               e AS id,
               et || '_u' AS status,
               '__dbz_unavailable_value__' AS note
        FROM base WHERE e % 4 = 1
    )
    SELECT * FROM creates UNION ALL SELECT * FROM extra_updates
    """,
)
def s29_logminer_lob(spark, sf_dir):
    """LOB-enabled LogMiner emission: every row's chain (INSERT with
    EMPTY_CLOB(), SEL_LOB_LOCATOR, offset-ordered LOB_WRITE fragments,
    then one of {nothing | plain UPDATE | LOB-setting UPDATE | an
    overlapping mid-LOB write}) folds into the events the reference's
    commit consumer emits: fragments concatenate into the locator's
    column, a LOB-setting UPDATE merges and its concrete value replaces
    the in-flight construction, a plain UPDATE is a SEPARATE logical
    change that keeps the unavailable placeholder, and a mid-LOB write
    overwrites its region (TransactionCommitConsumer.java:124-420,
    LobUnderConstruction.doAdd). Per-(tx,row) applyInPandas fold — state
    bounded by one row's LOB, never stream length."""
    import pandas as pd

    from debezium_spark.sources.logminer import UNAVAILABLE

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "event_type"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for e, et in zip(pdf["event_id"], pdf["event_type"]):
                e, et = int(e), str(et)
                tx, rid = f"t{e // 100}", f"r{e}"
                full = f"note-{e}:{et}"
                rows.append((e * 10, tx, rid, "insert", "S", "T",
                             [str(e), et, "EMPTY_CLOB()"], None, None,
                             None))
                rows.append((e * 10 + 1, tx, rid, "sel_lob_locator",
                             "S", "T", [str(e), et, UNAVAILABLE],
                             "note", None, None))
                rows.append((e * 10 + 2, tx, rid, "lob_write", "S", "T",
                             None, None, 0, full[:7]))
                rows.append((e * 10 + 3, tx, rid, "lob_write", "S", "T",
                             None, None, 7, full[7:]))
                m = e % 4
                if m == 1:
                    rows.append((e * 10 + 4, tx, rid, "update", "S", "T",
                                 [str(e), f"{et}_u", UNAVAILABLE],
                                 None, None, None))
                elif m == 2:
                    rows.append((e * 10 + 4, tx, rid, "update", "S", "T",
                                 [str(e), et, f"inline-{e}"],
                                 None, None, None))
                elif m == 3:
                    rows.append((e * 10 + 4, tx, rid, "lob_write", "S",
                                 "T", None, None, 5, "XX"))
            yield pd.DataFrame(
                rows,
                columns=["scn", "tx", "row_id", "kind", "schema",
                         "table", "after", "lob_col", "lob_offset",
                         "lob_data"],
            )

    feed = ev.mapInPandas(
        gen,
        "scn long, tx string, row_id string, kind string, schema string,"
        " table string, after array<string>, lob_col string,"
        " lob_offset int, lob_data string",
    ).localCheckpoint(eager=True)

    from debezium_spark.sources.logminer import assemble_lob_events

    out = assemble_lob_events(
        feed, ["id", "status", "note"], ["note"]
    )
    return out.select(
        "scn", "tx", "row_id", "op",
        F.element_at("after", 1).cast("long").alias("id"),
        F.element_at("after", 2).alias("status"),
        F.element_at("after", 3).alias("note"),
    )


# ---------------------------------------------------------------------------
# S29b — the LOB event classes beyond LOB_WRITE: LOB_ERASE discard,
# the SEL_LOB_LOCATOR noop gate, 32k extended-string begin/write chains,
# and DBMS_LOB.WRITE hole filling (TransactionCommitConsumer.java:
# 225-229,319-334,552-559,726-868,944-973).
# ---------------------------------------------------------------------------
@register(
    "s29b_logminer_lob_edge",
    oracle="""
    WITH base AS (
        SELECT event_id AS e, event_type AS et,
               'note-' || event_id || ':' || event_type AS note_full
        FROM events
    ),
    xs AS (  -- extended-string chains: fragments concatenate
        SELECT e * 10 AS scn, 't' || (e // 100) AS tx, 'r' || e AS row_id,
               'u' AS op, e AS id, et AS status, note_full AS note
        FROM base WHERE e % 5 = 1
    ),
    erased AS (  -- erase discards the chain; the later update survives
        SELECT e * 10 + 6, 't' || (e // 100), 'r' || e,
               'u', e, et || '_u', '__dbz_unavailable_value__'
        FROM base WHERE e % 5 = 2
    ),
    holey AS (  -- write past the end: hole space-fills (DBMS_LOB.WRITE)
        SELECT e * 10, 't' || (e // 100), 'r' || e,
               'c', e, et,
               substr(note_full, 1, 4) || '   ' || substr(note_full, 8)
        FROM base WHERE e % 5 = 3
    ),
    plain AS (
        SELECT e * 10, 't' || (e // 100), 'r' || e,
               'c', e, et, 'inline-' || e
        FROM base WHERE e % 5 = 4
    )
    -- e % 5 = 0 rows are locator-rooted NOOP chains: never emitted
    SELECT * FROM xs UNION ALL SELECT * FROM erased
    UNION ALL SELECT * FROM holey UNION ALL SELECT * FROM plain
    """,
)
def s29b_logminer_lob_edge(spark, sf_dir):
    """The LOB pass's remaining event classes, one variant per residue:
    0 — a bare SEL_LOB_LOCATOR chain (no writes) is a NOOP and is NOT
    emitted; 1 — EXTENDED_STRING_BEGIN + three 32K_WRITE fragments
    concatenate in order (prior value discarded); 2 — LOB_ERASE discards
    the in-flight chain entirely (insert+locator+write all vanish), the
    later plain UPDATE emits alone with the placeholder; 3 — a LOB_WRITE
    past the construction's end leaves a hole that merge() fills with
    spaces; 4 — control INSERT. The oracle enumerates exactly the
    surviving events, so an erase that leaks, a noop that emits, or an
    unfilled hole all break the row count or the hash."""
    import pandas as pd

    from debezium_spark.sources.logminer import UNAVAILABLE

    ev = _events_feed(spark, sf_dir).select("event_id", "event_type")

    def gen(batches):
        for pdf in batches:
            rows = []
            for e, et in zip(pdf["event_id"], pdf["event_type"]):
                e, et = int(e), str(et)
                tx, rid = f"t{e // 100}", f"r{e}"
                full = f"note-{e}:{et}"
                m = e % 5
                if m == 0:
                    rows.append((e * 10, tx, rid, "sel_lob_locator",
                                 "S", "T", [str(e), et, "keep"],
                                 "note", None, None))
                elif m == 1:
                    rows.append((e * 10, tx, rid, "xs_begin", "S", "T",
                                 [str(e), et, UNAVAILABLE], "note",
                                 None, None))
                    rows.append((e * 10 + 1, tx, rid, "xs_write", "S",
                                 "T", None, None, None, full[:4]))
                    rows.append((e * 10 + 2, tx, rid, "xs_write", "S",
                                 "T", None, None, None, full[4:9]))
                    rows.append((e * 10 + 3, tx, rid, "xs_write", "S",
                                 "T", None, None, None, full[9:]))
                elif m == 2:
                    rows.append((e * 10, tx, rid, "insert", "S", "T",
                                 [str(e), et, "EMPTY_CLOB()"], None,
                                 None, None))
                    rows.append((e * 10 + 1, tx, rid, "sel_lob_locator",
                                 "S", "T", [str(e), et, UNAVAILABLE],
                                 "note", None, None))
                    rows.append((e * 10 + 2, tx, rid, "lob_write", "S",
                                 "T", None, None, 0, "junk"))
                    rows.append((e * 10 + 3, tx, rid, "lob_erase", "S",
                                 "T", None, None, None, None))
                    rows.append((e * 10 + 6, tx, rid, "update", "S", "T",
                                 [str(e), f"{et}_u", UNAVAILABLE],
                                 None, None, None))
                elif m == 3:
                    rows.append((e * 10, tx, rid, "insert", "S", "T",
                                 [str(e), et, "EMPTY_CLOB()"], None,
                                 None, None))
                    rows.append((e * 10 + 1, tx, rid, "sel_lob_locator",
                                 "S", "T", [str(e), et, UNAVAILABLE],
                                 "note", None, None))
                    rows.append((e * 10 + 2, tx, rid, "lob_write", "S",
                                 "T", None, None, 0, full[:4]))
                    rows.append((e * 10 + 3, tx, rid, "lob_write", "S",
                                 "T", None, None, 7, full[7:]))
                else:
                    rows.append((e * 10, tx, rid, "insert", "S", "T",
                                 [str(e), et, f"inline-{e}"], None,
                                 None, None))
            yield pd.DataFrame(
                rows,
                columns=["scn", "tx", "row_id", "kind", "schema",
                         "table", "after", "lob_col", "lob_offset",
                         "lob_data"],
            )

    feed = ev.mapInPandas(
        gen,
        "scn long, tx string, row_id string, kind string, schema string,"
        " table string, after array<string>, lob_col string,"
        " lob_offset int, lob_data string",
    ).localCheckpoint(eager=True)

    from debezium_spark.sources.logminer import assemble_lob_events

    out = assemble_lob_events(feed, ["id", "status", "note"], ["note"])
    return out.select(
        "scn", "tx", "row_id", "op",
        F.element_at("after", 1).cast("long").alias("id"),
        F.element_at("after", 2).alias("status"),
        F.element_at("after", 3).alias("note"),
    )


# ---------------------------------------------------------------------------
# S31 — BSON-native typed conversion: change-stream documents arrive as
# BSON bytes; the typed projection applies MongoDataConverter's type
# table (MongoDataConverter.java:620-663,785-835) over a from-scratch
# BSON codec (sources/bson.py, public bsonspec.org layout).
# ---------------------------------------------------------------------------
@register(
    "s31_bson_typed",
    oracle="""
    SELECT event_id AS pos,
           printf('%024x', event_id) AS oid,
           'doc-' || event_id AS name,
           printf('%d.%02d', (event_id * 7 + 1) // 100,
                  (event_id * 7 + 1) % 100) AS price_str,
           event_id * 1000 + 123 AS created_ms,
           event_id * 1000 AS seen_ms,
           event_id % 2 = 0 AS ok,
           value AS score,
           event_type || '|t' || event_id % 10 AS tags_joined,
           event_id + 5000000000 AS big
    FROM events
    """,
)
def s31_bson_typed(spark, sf_dir):
    """BSON documents through the typed projection: ObjectId -> 24-hex
    string, Decimal128 (BID small form) -> its Java toString, DATE_TIME
    -> epoch ms, BSON TIMESTAMP -> seconds*1000, booleans/doubles/
    int32/int64 native, arrays as string arrays — exactly
    MongoDataConverter's scalar table. The fixture encodes every
    document with the from-scratch codec so the wire layout (not a
    JSON-text stand-in) is what the kernel decodes."""
    import pandas as pd

    from debezium_spark.sources.bson import (
        DateTime,
        Decimal128,
        ObjectId,
        Timestamp,
        bson_typed_table,
        encode_bson,
    )

    ev = _events_feed(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def enc(batches):
        for pdf in batches:
            poss, msgs = [], []
            for e, t, v in zip(
                pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                e, t, v = int(e), str(t), float(v)
                doc = {
                    "_id": ObjectId(e.to_bytes(12, "big")),
                    "name": f"doc-{e}",
                    "price": Decimal128(False, str(e * 7 + 1), -2),
                    "created": DateTime(e * 1000 + 123),
                    "seen": Timestamp(e, 1),
                    "ok": e % 2 == 0,
                    "score": v,
                    "tags": [t, f"t{e % 10}"],
                    "big": e + 5_000_000_000,
                }
                poss.append(e)
                msgs.append(encode_bson(doc))
            yield pd.DataFrame({"pos": poss, "doc": msgs})

    feed = ev.mapInPandas(
        enc, "pos long, doc binary"
    ).localCheckpoint(eager=True)
    typed = bson_typed_table(
        feed,
        [
            ("_id", "objectid"), ("name", "string"),
            ("price", "decimal128"), ("created", "datetime"),
            ("seen", "timestamp"), ("ok", "boolean"),
            ("score", "double"), ("tags", "array_string"),
            ("big", "int64"),
        ],
    )
    return typed.select(
        "pos",
        F.col("_id").alias("oid"),
        "name",
        F.col("price").alias("price_str"),
        F.col("created").alias("created_ms"),
        F.col("seen").alias("seen_ms"),
        "ok",
        "score",
        F.array_join("tags", "|").alias("tags_joined"),
        "big",
    )


# ---------------------------------------------------------------------------
# S11b — Mongo updateDescription.truncatedArrays fold
# ---------------------------------------------------------------------------
@register(
    "s11b_truncated_arrays",
    oracle="""
    WITH last_set AS (
        SELECT user_id, max(event_id) AS set_pos
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    arrs AS (
        SELECT user_id, set_pos,
               ['t' || set_pos % 7, 't' || set_pos % 5,
                't' || set_pos % 3, 't' || set_pos % 2] AS arr
        FROM last_set
    ),
    post AS (
        SELECT e.user_id, min(e.event_id % 3 + 1) AS n
        FROM events e JOIN last_set s USING (user_id)
        WHERE e.event_type = 'error' AND e.event_id > s.set_pos
        GROUP BY 1
    )
    SELECT a.user_id,
           array_to_string(
               list_slice(a.arr, 1, least(coalesce(p.n, 4), 4)), ','
           ) AS tags,
           CAST(least(coalesce(p.n, 4), 4) AS INT) AS n_tags
    FROM arrs a LEFT JOIN post p USING (user_id)
    """,
)
def s11b_truncated_arrays(spark, sf_dir):
    """Change-stream array truncation patches folded without replay:
    truncation is monotone, so post-$set truncations compose to their
    minimum and the state is the last $set sliced once. See
    operators/document.py:mongo_truncated_arrays."""
    from debezium_spark.operators.document import mongo_truncated_arrays

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "event_type"
    )
    return mongo_truncated_arrays(ev)
