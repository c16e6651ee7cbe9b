"""MERGE edge semantics from SURVEY §7.3: PK-change updates (d on old key +
c on new key in ONE batch) and empty/degenerate batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_spark.sinks.merge import ParquetMergeSink
from debezium_spark.sources.changefeed import accounts_changefeed


def _mk_event(env, *, key_id, op, pos, status="gold", balance=1.0):
    """Build a one-row envelope by rewriting a template row."""
    row = env.limit(1)
    after = F.when(
        F.lit(op).isin("c", "u", "r"),
        F.struct(
            F.lit(key_id).cast("long").alias("id"),
            F.lit(status).alias("status"),
            F.lit(balance).cast("double").alias("balance"),
        ),
    )
    before = F.when(
        F.lit(op).isin("u", "d"),
        F.struct(
            F.lit(key_id).cast("long").alias("id"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("double").alias("balance"),
        ),
    )
    return row.select(
        F.struct(F.lit(key_id).cast("long").alias("id")).alias("key"),
        before.alias("before"),
        after.alias("after"),
        F.lit(op).alias("op"),
        F.col("source").withField("pos", F.lit(pos).cast("long")).alias("source"),
        F.col("transaction"),
        F.col("ts_ms"),
    )


def test_pk_change_update_applies_both_halves(spark, sf_dir, tmp_path):
    """An UPDATE that changes the primary key arrives as DELETE(old) +
    CREATE(new) in the same batch (RelationalChangeRecordEmitter.java:123-131)
    — after the merge the old key is gone and the new key exists."""
    env = accounts_changefeed(spark, sf_dir)
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)

    seed = _mk_event(env, key_id=777001, op="c", pos=1, status="orig")
    sink.write_batch(seed)

    pk_change = _mk_event(env, key_id=777001, op="d", pos=100).unionByName(
        _mk_event(env, key_id=777002, op="c", pos=101, status="moved")
    )
    sink.write_batch(pk_change)

    rows = {r.id: r.status for r in sink.read().collect()}
    assert 777001 not in rows
    assert rows[777002] == "moved"


def test_empty_and_tombstone_only_batches_are_noops(spark, sf_dir, tmp_path):
    env = accounts_changefeed(spark, sf_dir)
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), ["id"], num_buckets=4)
    sink.write_batch(_mk_event(env, key_id=1, op="c", pos=1))
    before = sorted(map(tuple, sink.read().collect()))

    sink.write_batch(env.limit(0))  # empty batch
    assert sorted(map(tuple, sink.read().collect())) == before

    # Tombstone: key present, everything else null (op = null).
    tomb = env.limit(1).select(
        F.struct(F.lit(1).cast("long").alias("id")).alias("key"),
        F.lit(None).cast(env.schema["before"].dataType).alias("before"),
        F.lit(None).cast(env.schema["after"].dataType).alias("after"),
        F.lit(None).cast("string").alias("op"),
        F.col("source"),
        F.col("transaction"),
        F.col("ts_ms"),
    )
    sink.write_batch(tomb)
    assert sorted(map(tuple, sink.read().collect())) == before


def test_merge_is_order_insensitive_to_batch_row_order(spark, sf_dir, tmp_path):
    """Ordering comes from source.pos, never batch row order (SURVEY §7.3):
    shuffling the batch's physical row order must not change the result."""
    from debezium_spark.sinks.merge import merge_changes
    from debezium_spark.operators.unwrap import extract_new_record_state
    from debezium_spark.sources.changefeed import accounts_snapshot

    env = accounts_changefeed(spark, sf_dir)
    target = extract_new_record_state(
        accounts_snapshot(spark, sf_dir), delete_handling="drop"
    )
    straight = merge_changes(target, env, ["id"])
    shuffled_env = env.orderBy(F.rand(seed=42))
    shuffled = merge_changes(target, shuffled_env, ["id"])
    assert sorted(map(tuple, straight.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_schema_evolution_records_to_registry(spark, sf_dir, tmp_path):
    """K6 wired to the schema-history registry: a mid-stream column add
    appends a version row; schema_at() recovers the evolved column list."""
    from debezium_spark.schema.history import SchemaRegistry

    env = accounts_changefeed(spark, sf_dir)
    reg = SchemaRegistry(spark, str(tmp_path / "registry"))
    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=4,
        schema_registry=reg, table_name="accounts",
    )
    sink.write_batch(_mk_event(env, key_id=1, op="c", pos=1))

    evolved = _mk_event(env, key_id=2, op="c", pos=50).withColumn(
        "after", F.col("after").withField("tier", F.lit("T1"))
    ).withColumn(
        "before",
        F.when(
            F.col("before").isNotNull(),
            F.col("before").withField("tier", F.lit(None).cast("string")),
        ),
    )
    sink.write_batch(evolved)

    cols = reg.schema_at("accounts", 50)
    assert "tier" in cols
    hist = reg.recover().collect()
    assert len(hist) == 1 and hist[0]["valid_from_pos"] == 50
    got = sink.read()
    assert "tier" in got.columns
    rows = {r.id: r.tier for r in got.collect()}
    assert rows[2] == "T1" and rows[1] is None


def test_distributed_evolution_batch_runs_no_extra_job(spark, tmp_path):
    """On the distributed path the batch's min position comes out of the
    same aggregation as its touched buckets and truncate flag: a batch
    that evolves the schema runs as many Spark jobs as one that does not,
    and the registry records the batch's min position."""
    from debezium_spark.envelope import make_envelope

    class Registry:  # records in Python, so it runs no job of its own
        def __init__(self):
            self.rows = []

        def record(self, table, version, cols, pos):
            self.rows.append((table, version, cols, pos))

    def batch(rows, extra=False):
        df = spark.createDataFrame(rows, "id long, op string, pos long")
        tier = [F.lit("T1").alias("tier")] if extra else []
        row = F.struct(F.col("id"), *tier)
        return make_envelope(
            df, key=F.struct(F.col("id")),
            before=F.when(F.col("op") == "d", row),
            after=F.when(F.col("op") != "d", row),
            op=F.col("op"), db="db", table="t", pos=F.col("pos"),
        )

    reg = Registry()
    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=1,
        inline_max_rows=0, schema_registry=reg, table_name="t",
    )
    sc = spark.sparkContext

    def jobs(env, epoch):
        group = f"cow-distributed-evolution-{epoch}"
        sc.setJobGroup(group, "distributed evolution")
        try:
            sink.write_batch(env, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sink.write_batch(batch([(1, "c", 1)]), 0)
    plain = jobs(batch([(2, "c", 7)]), 1)
    evolved = jobs(batch([(3, "c", 9), (4, "c", 8)], extra=True), 2)
    assert evolved == plain
    assert reg.rows == [("t", 1, ["id", "tier", "__bucket"], 8)]
    assert sorted(map(tuple, sink.read().collect())) == [
        (1, None), (2, None), (3, "T1"), (4, "T1"),
    ]


def test_evolved_column_survives_later_batches_in_other_buckets(
    spark, sf_dir, tmp_path
):
    """Regression: evolution detection must use the authoritative known-column
    set (sidecar union), never a single sampled parquet footer. After a column
    add, buckets are heterogeneous; sampling a pre-evolution footer used to
    re-classify the existing column as 'added' and NULL its real values in
    every bucket the next batch rewrote."""
    env = accounts_changefeed(spark, sf_dir)
    n_buckets = 4

    def bucket_of(key_id):
        return (
            spark.range(1)
            .select(F.pmod(F.hash(F.lit(key_id).cast("long")), F.lit(n_buckets)))
            .collect()[0][0]
        )

    # key_a alone in one bucket (stays pre-evolution on disk); key_b/key_c
    # share a different bucket so the batch-3 rewrite covers key_b's row.
    key_a = 1
    key_b = next(k for k in range(2, 64) if bucket_of(k) != bucket_of(key_a))
    key_c = next(
        k
        for k in range(key_b + 1, 256)
        if bucket_of(k) == bucket_of(key_b)
    )

    def with_extra(ev, value):
        return ev.withColumn(
            "after", F.col("after").withField("extra", F.lit(value))
        ).withColumn(
            "before",
            F.when(
                F.col("before").isNotNull(),
                F.col("before").withField("extra", F.lit(None).cast("string")),
            ),
        )

    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=n_buckets
    )
    sink.write_batch(
        _mk_event(env, key_id=key_a, op="c", pos=1).unionByName(
            _mk_event(env, key_id=key_b, op="c", pos=2)
        )
    )
    # batch 2 evolves the schema; only key_b's bucket is rewritten with it
    sink.write_batch(with_extra(_mk_event(env, key_id=key_b, op="u", pos=10), "E_B"))
    # batch 3 touches key_b's bucket again via key_c — key_b's value must survive
    sink.write_batch(with_extra(_mk_event(env, key_id=key_c, op="c", pos=20), "E_C"))

    rows = {r.id: r for r in sink.read().collect()}
    assert rows[key_b].extra == "E_B"
    assert rows[key_c].extra == "E_C"
    assert rows[key_a].extra is None


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_inline_select_list_built_once_per_schema(
    spark, sf_dir, tmp_path, monkeypatch, kind
):
    """Both sinks share one inline collector that builds its select
    Columns once per batch schema: a second batch of the same schema
    reuses the very same Columns, and a schema-evolved batch builds new
    ones and lands its new column."""
    from debezium_spark.sinks.mor import LogMergeSink

    env = accounts_changefeed(spark, sf_dir)
    path = str(tmp_path / kind)
    if kind == "cow":
        sink = ParquetMergeSink(spark, path, ["id"], num_buckets=4)
    else:
        sink = LogMergeSink(spark, path, ["id"], compact_every=0)
    collector = sink._inline
    built = []
    build = collector._build
    collector._build = lambda schema: built.append(schema) or build(schema)

    def not_inline(*a, **k):
        raise AssertionError("the batch left the inline path")

    # every batch below must take the Arrow inline path
    monkeypatch.setattr(
        sink, "_write_distributed" if kind == "cow" else "_delta_frame",
        not_inline,
    )

    first = _mk_event(env, key_id=1, op="c", pos=1)
    sink.write_batch(first, 0)
    cols = collector._selects[first.schema][2]
    second = _mk_event(env, key_id=2, op="c", pos=2, status="silver")
    sink.write_batch(second, 1)
    assert len(built) == 1
    assert collector._selects[second.schema][2] is cols

    evolved = _mk_event(env, key_id=3, op="c", pos=3).select(
        "key",
        F.col("before").withField("tier", F.lit(None).cast("string"))
        .alias("before"),
        F.col("after").withField("tier", F.lit("T1")).alias("after"),
        "op", "source", "transaction", "ts_ms",
    )
    sink.write_batch(evolved, 2)
    assert len(built) == 2
    assert collector._selects[evolved.schema][2] is not cols
    rows = {r["id"]: r.asDict() for r in sink.read().collect()}
    assert rows[3]["tier"] == "T1" and rows[1]["tier"] is None
    assert rows[2]["status"] == "silver"


def test_asof_join_null_in_matched_right_row_stays_null(spark):
    """The matched right row travels as one struct: a NULL column in the
    latest right row must NOT fall back to an older right row's value."""
    from debezium_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, lts int")
    right = spark.createDataFrame(
        [(1, 10, "old-status", 5.0), (1, 50, None, 7.0)],
        "k int, rts int, status string, score double",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_cols=["status", "score"],
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row.score_asof == 7.0
    assert row.status_asof is None  # per-column fill would say "old-status"


def test_asof_join_no_match_yields_nulls(spark):
    from debezium_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 5)], "k int, lts int")
    right = spark.createDataFrame([(1, 10, "late")], "k int, rts int, v string")
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts", right_cols=["v"]
    ).collect()
    assert out[0].v_asof is None


def test_inline_and_distributed_paths_produce_identical_state(
    spark, sf_dir, tmp_path
):
    """The inline micro-batch path (Python K4 reduce + Arrow local relation)
    must be observably identical to the distributed plan — same final table
    for the same batches, including deletes and multi-event keys."""
    env = accounts_changefeed(spark, sf_dir)
    lo = env.filter(F.col("source.pos") % 2 == 0)
    hi = env.filter(F.col("source.pos") % 2 == 1)
    inline = ParquetMergeSink(
        spark, str(tmp_path / "inline"), ["id"], num_buckets=8
    )
    dist = ParquetMergeSink(
        spark, str(tmp_path / "dist"), ["id"], num_buckets=8, inline_max_rows=0
    )
    for sink in (inline, dist):
        sink.write_batch(lo, 0)
        sink.write_batch(hi, 1)
    ra = [tuple(r) for r in inline.read().orderBy("id").collect()]
    rb = [tuple(r) for r in dist.read().orderBy("id").collect()]
    assert ra == rb and len(ra) > 0


def test_incremental_aggregate_handles_delete_and_recreate(spark):
    """IVM telescoping across the tricky sequence: create → update (group
    move) → delete → re-create in a different group. The maintained
    aggregate must equal the final state (one row in grp 'b', one in 'a'),
    with every intermediate contribution cancelled exactly."""
    from debezium_spark.envelope import make_envelope
    from debezium_spark.operators.reduce import maintain_group_aggregate

    ev = spark.createDataFrame(
        [
            (1, 1, "c", "a", 10.0),
            (2, 1, "u", "b", 20.0),   # moves groups a → b
            (3, 1, "d", None, None),
            (4, 1, "c", "b", 5.0),    # re-created in b
            (5, 2, "c", "a", 7.5),
        ],
        "pos long, id long, op string, grp string, bal double",
    )
    after_row = F.struct(
        F.col("id"), F.col("grp").alias("status"), F.col("bal").alias("balance")
    )
    env = make_envelope(
        ev,
        key=F.struct(F.col("id")),
        before=F.lit(None).cast("struct<id:long,status:string,balance:double>"),
        after=F.when(F.col("op") != "d", after_row),
        op=F.col("op"),
        db="db",
        table="t",
        pos=F.col("pos"),
        tx_id=F.lit(None).cast("string"),
        ts_ms=F.lit(0),
        ts_us=F.lit(0),
        ts_ns=F.lit(0),
    )
    out = {
        r["status"]: (r["total_balance"], r["n"])
        for r in maintain_group_aggregate(
            env, key_cols=["id"], group_col="status", value_col="balance"
        ).collect()
    }
    assert out == {"b": (5.0, 1), "a": (7.5, 1)}


def test_incremental_aggregate_numeric_group_key(spark):
    """The empty-array cast DDL derives the group column's type from the
    schema, so a BIGINT group key analyzes and aggregates correctly (the
    old hardcoded grp:string DDL only worked for string keys)."""
    from debezium_spark.envelope import make_envelope
    from debezium_spark.operators.reduce import maintain_group_aggregate

    ev = spark.createDataFrame(
        [(1, 1, "c", 10, 4.0), (2, 2, "c", 10, 6.0), (3, 3, "c", 20, 1.0)],
        "pos long, id long, op string, grp long, bal double",
    )
    after_row = F.struct(
        F.col("id"), F.col("grp").alias("bucket"), F.col("bal").alias("balance")
    )
    env = make_envelope(
        ev,
        key=F.struct(F.col("id")),
        before=F.lit(None).cast("struct<id:long,bucket:long,balance:double>"),
        after=F.when(F.col("op") != "d", after_row),
        op=F.col("op"),
        db="db",
        table="t",
        pos=F.col("pos"),
        tx_id=F.lit(None).cast("string"),
        ts_ms=F.lit(0),
        ts_us=F.lit(0),
        ts_ns=F.lit(0),
    )
    out = {
        r["bucket"]: (r["total_balance"], r["n"])
        for r in maintain_group_aggregate(
            env, key_cols=["id"], group_col="bucket", value_col="balance"
        ).collect()
    }
    assert out == {10: (10.0, 2), 20: (1.0, 1)}


def test_incremental_aggregate_contract(spark):
    """The aggregate contract is explicit: sum/count/avg are maintainable,
    anything else (MIN/MAX need a re-scan when the extremum retracts)
    raises a clear ValueError instead of an AttributeError-shaped
    surprise. avg = explicit sum/count division, present alongside the
    chosen outputs only when asked for."""
    import pytest

    from debezium_spark.envelope import make_envelope
    from debezium_spark.operators.reduce import maintain_group_aggregate

    ev = spark.createDataFrame(
        [(1, 1, "c", "a", 4.0), (2, 2, "c", "a", 6.0), (3, 3, "c", "b", 1.0)],
        "pos long, id long, op string, grp string, bal double",
    )
    after_row = F.struct(
        F.col("id"), F.col("grp").alias("status"), F.col("bal").alias("balance")
    )
    env = make_envelope(
        ev,
        key=F.struct(F.col("id")),
        before=F.lit(None).cast("struct<id:long,status:string,balance:double>"),
        after=F.when(F.col("op") != "d", after_row),
        op=F.col("op"),
        db="db",
        table="t",
        pos=F.col("pos"),
        tx_id=F.lit(None).cast("string"),
        ts_ms=F.lit(0),
        ts_us=F.lit(0),
        ts_ns=F.lit(0),
    )
    with pytest.raises(ValueError, match="re-scanning"):
        maintain_group_aggregate(
            env, key_cols=["id"], group_col="status", value_col="balance",
            aggs=("max",),
        )
    with pytest.raises(ValueError):
        maintain_group_aggregate(
            env, key_cols=["id"], group_col="status", value_col="balance",
            aggs=(),
        )
    rows = maintain_group_aggregate(
        env, key_cols=["id"], group_col="status", value_col="balance",
        aggs=("sum", "count", "avg"),
    ).collect()
    out = {
        r["status"]: (r["total_balance"], r["n"], r["avg_balance"])
        for r in rows
    }
    assert out == {"a": (10.0, 2, 5.0), "b": (1.0, 1, 1.0)}


def test_net_effect_compaction_semantics(spark):
    """The four net-effect outcomes in one window: create+delete vanishes;
    create(+update) → one 'c' with final state; update-only → 'u';
    pre-existing key deleted → 'd' with null state."""
    from debezium_spark.envelope import make_envelope
    from debezium_spark.operators.reduce import net_effect_per_key

    ev = spark.createDataFrame(
        [
            (1, 1, "c", "a", 1.0), (2, 1, "d", None, None),   # vanishes
            (3, 2, "c", "a", 2.0), (4, 2, "u", "b", 3.0),     # net 'c' final b
            (5, 3, "u", "x", 4.0),                             # net 'u'
            (6, 4, "u", "y", 5.0), (7, 4, "d", None, None),   # net 'd'
        ],
        "pos long, id long, op string, grp string, bal double",
    )
    after_row = F.struct(
        F.col("id"), F.col("grp").alias("status"), F.col("bal").alias("balance")
    )
    env = make_envelope(
        ev,
        key=F.struct(F.col("id")),
        before=F.lit(None).cast("struct<id:long,status:string,balance:double>"),
        after=F.when(F.col("op") != "d", after_row),
        op=F.col("op"),
        db="db", table="t", pos=F.col("pos"),
        tx_id=F.lit(None).cast("string"),
        ts_ms=F.lit(0), ts_us=F.lit(0), ts_ns=F.lit(0),
    )
    out = {
        r["id"]: (r["net_op"], r["after"]["status"] if r["after"] else None)
        for r in net_effect_per_key(env, key_cols=["id"]).collect()
    }
    assert out == {2: ("c", "b"), 3: ("u", "x"), 4: ("d", None)}


def test_inline_probe_short_circuits_on_footer_counts(spark, tmp_path):
    """Backfill batches skip the limit(n+1) probe job entirely: parquet
    footer row counts (a driver-local metadata read) already prove the
    batch is over the inline threshold. In-memory batches, unreadable
    footers and under-limit files keep the probe's verdict."""
    from debezium_spark.inline import footer_rows_exceed

    p = str(tmp_path / "batch")
    spark.range(100).write.parquet(p)
    file_backed = spark.read.parquet(p)
    assert footer_rows_exceed(file_backed, 10) is True
    assert footer_rows_exceed(file_backed, 1000) is False
    # no files behind it → footer check abstains (probe decides)
    mem = spark.range(100)
    assert footer_rows_exceed(mem, 10) is False
    # a footer pyarrow cannot read → abstains too
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.parquet").write_bytes(b"not a parquet file")
    unreadable = spark.read.schema("id long").parquet(str(bad))
    assert footer_rows_exceed(unreadable, 10) is False


def test_events_leaves_session_timezone_untouched(spark, sf_dir):
    """_events must not permanently mutate the caller's session timezone
    (it used to set UTC as a hidden side effect), and the canonical nanos
    values must be identical under any session zone."""
    from debezium_spark.sources.changefeed import _events

    prev = spark.conf.get("spark.sql.session.timeZone")
    baseline = _events(spark, sf_dir).select("ts").orderBy("event_id").limit(5)
    base_vals = [r["ts"] for r in baseline.collect()]
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ev = _events(spark, sf_dir)
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        )
        vals = [
            r["ts"]
            for r in ev.select("ts").orderBy("event_id").limit(5).collect()
        ]
        assert vals == base_vals
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_driver_inline_merge_matches_spark_paths(spark, sf_dir, tmp_path):
    """The driver-side inline MERGE (pyarrow bucket rewrite, zero Spark
    jobs past the collect) must be observably identical to BOTH Spark
    paths — the inline local-relation plan and the fully distributed
    plan — including deletes and multi-event keys."""
    import glob

    env = accounts_changefeed(spark, sf_dir)
    lo = env.filter(F.col("source.pos") % 2 == 0)
    hi = env.filter(F.col("source.pos") % 2 == 1)
    drv = ParquetMergeSink(
        spark, str(tmp_path / "drv"), ["id"], num_buckets=8
    )
    spk = ParquetMergeSink(
        spark, str(tmp_path / "spk"), ["id"], num_buckets=8,
        inline_merge_target_rows=0,
    )
    dist = ParquetMergeSink(
        spark, str(tmp_path / "dist"), ["id"], num_buckets=8,
        inline_max_rows=0,
    )
    for sink in (drv, spk, dist):
        sink.write_batch(lo, 0)
        sink.write_batch(hi, 1)
    a = [tuple(r) for r in drv.read().orderBy("id").collect()]
    b = [tuple(r) for r in spk.read().orderBy("id").collect()]
    c = [tuple(r) for r in dist.read().orderBy("id").collect()]
    assert a == b == c and len(a) > 0
    # the driver path genuinely ran
    assert glob.glob(str(tmp_path / "drv" / "__bucket=*" / "*-inline*"))


def test_driver_inline_merge_drops_emptied_bucket(spark, sf_dir, tmp_path):
    """A driver-side merge whose deletes empty a bucket removes the
    bucket dir (same contract as the Spark swap), and the table still
    reads as empty via the schema sidecar."""
    env = accounts_changefeed(spark, sf_dir)
    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=1
    )
    sink.write_batch(_mk_event(env, key_id=31337, op="c", pos=1), 0)
    assert [r.id for r in sink.read().collect()] == [31337]
    sink.write_batch(_mk_event(env, key_id=31337, op="d", pos=2), 1)
    import os

    assert not any(
        e.startswith("__bucket=") for e in os.listdir(tmp_path / "t")
    )
    assert sink.read().count() == 0


def test_swap_crash_then_replay_converges(spark, sf_dir, tmp_path, monkeypatch):
    """A crash at any step of the bucket swap loses no committed rows. The
    k-th ``os.replace`` (or ``shutil.rmtree``) inside ``_swap_staged``
    fails; a fresh sink then replays the same epoch and the table must
    equal the uncrashed run. Crash points: replace 1, the first bucket's
    aside rename; replace 2, the staged bucket's move into place, with
    the old rows only in the aside copy; replace 3, the next bucket's
    aside rename, one bucket already swapped; rmtree 1, the aside copy's
    drop, old and new both on disk."""
    import os
    import shutil
    from functools import reduce

    env = accounts_changefeed(spark, sf_dir)

    def batch(events):
        return reduce(
            lambda a, b: a.unionByName(b),
            [_mk_event(env, key_id=i, op=op, pos=p) for i, op, p in events],
        ).localCheckpoint()

    # 16 keys over 2 buckets, then a batch touching a few keys of each:
    # every swapped bucket also holds rows the second batch never names
    first = batch([(i, "c", i) for i in range(16)])
    second = batch([(1, "u", 20), (2, "u", 21), (3, "u", 22), (4, "d", 23)])

    def sink(path):
        return ParquetMergeSink(spark, path, ["id"], num_buckets=2)

    def table(path):
        return sorted(
            (r.id, r.status, r.balance)
            for r in sink(path).read().select("id", "status", "balance")
            .collect()
        )

    base = str(tmp_path / "base")
    sink(base).write_batch(first, 0)
    ref = str(tmp_path / "ref")
    shutil.copytree(base, ref)
    sink(ref).write_batch(second, 1)
    expected = table(ref)
    assert len(expected) == 15

    swap = ParquetMergeSink._swap_staged
    for name, k in (("replace", 1), ("replace", 2), ("replace", 3),
                    ("rmtree", 1)):
        target = os if name == "replace" else shutil
        real = getattr(target, name)
        calls = []

        def failing(*a, **kw):
            calls.append(a[0])
            if len(calls) == k:
                raise OSError(f"injected crash at {name} #{k}")
            return real(*a, **kw)

        def crashing_swap(self, *a, **kw):
            with monkeypatch.context() as m:
                m.setattr(target, name, failing)
                return swap(self, *a, **kw)

        path = str(tmp_path / f"{name}{k}")
        shutil.copytree(base, path)
        with monkeypatch.context() as m:
            m.setattr(ParquetMergeSink, "_swap_staged", crashing_swap)
            with pytest.raises(OSError, match="injected crash"):
                sink(path).write_batch(second, 1)
        # checkpoint re-delivery of the same epoch on a fresh sink
        sink(path).write_batch(second, 1)
        assert table(path) == expected, (name, k)
        assert not [e for e in os.listdir(path) if e.endswith(".aside")]
