"""CdcEngine builder facade, DLQ quarantine writer, salted join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_spark.engine import CdcEngine
from debezium_spark.operators.skew import salted_join
from debezium_spark.sinks.dlq import (
    DeadLetterQueue,
    ProcessingFailure,
    handle_failures,
)
from debezium_spark.sources.changefeed import accounts_changefeed, accounts_snapshot
from debezium_spark.streaming import replay_feed


def test_engine_builder_end_to_end(spark, sf_dir, tmp_path):
    env = accounts_changefeed(spark, sf_dir)
    feed = str(tmp_path / "feed")
    replay_feed(env, feed, num_chunks=2)

    pipe = (
        CdcEngine(spark)
        .source(feed_dir=feed, envelope_schema=env.schema)
        .snapshot(accounts_snapshot(spark, sf_dir))
        .sink(path=str(tmp_path / "target"), pk_cols=["id"], num_buckets=4)
        .checkpoint(str(tmp_path / "ckpt"))
        .build()
    )
    pipe.run_available()

    from debezium_spark.suite import load_all

    expected = sorted(
        (r.id, r.status, r.balance)
        for r in load_all()["k1_merge_upsert"].fn(spark, sf_dir).collect()
    )
    got = sorted(
        (r.id, r.status, r.balance)
        for r in pipe.sink.read().select("id", "status", "balance").collect()
    )
    assert got == expected


def test_engine_notifying_consumer(spark, sf_dir, tmp_path):
    env = accounts_changefeed(spark, sf_dir)
    feed = str(tmp_path / "feed")
    replay_feed(env, feed, num_chunks=3)
    seen = []
    pipe = (
        CdcEngine(spark)
        .source(feed_dir=feed, envelope_schema=env.schema)
        .transform(lambda df: df.filter(F.col("op") == "c"))
        .notifying(lambda batch, epoch: seen.append(batch.count()))
        .checkpoint(str(tmp_path / "ckpt"))
        .build()
    )
    pipe.run_available()
    assert len(seen) >= 3
    assert sum(seen) == env.filter(F.col("op") == "c").count()


def test_engine_builder_validates():
    with pytest.raises(ValueError, match="source"):
        CdcEngine(None).build()


def test_dlq_quarantine_and_modes(spark, sf_dir, tmp_path):
    ev = accounts_changefeed(spark, sf_dir)
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    valid = F.col("key.id") % 10 != 3  # deterministic poison subset

    good = handle_failures(ev, valid, mode="skip", dlq=dlq, reason="neg balance",
                           epoch_id=7)
    n_bad = ev.filter(~valid).count()
    assert good.count() == ev.count() - n_bad
    q = dlq.read()
    assert q.count() == n_bad
    assert set(q.select("__error").distinct().toPandas()["__error"]) == {
        "neg balance"
    }
    assert q.select("__epoch").first()[0] == 7

    with pytest.raises(ProcessingFailure):
        handle_failures(ev, valid, mode="fail")

    warnings = []
    handle_failures(ev, valid, mode="warn", dlq=dlq, warn=warnings.append)
    assert warnings


def test_salted_join_matches_plain_join(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = ev.join(cust, "user_id").select("event_id", "c_mktsegment")
    salted = salted_join(
        ev, cust, ["user_id"], num_salts=8, salt_source="event_id"
    ).select("event_id", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_under_extreme_skew(spark, sf_dir):
    """90% of rows on one hot key: the salted join still matches the plain
    join (correctness under the skew defense; AQE handles the plain side)."""
    from debezium_spark.operators.skew import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.when(F.col("event_id") % 10 != 0, F.lit(7)).otherwise(
            F.col("user_id")
        ).alias("user_id"),
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = ev.join(cust, "user_id").select("event_id", "c_mktsegment")
    salted = salted_join(
        ev, cust, ["user_id"], num_salts=16, salt_source="event_id"
    ).select("event_id", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_engine_from_config(spark, sf_dir, tmp_path):
    """Connector-properties-style construction (DebeziumEngine.using)."""
    env = accounts_changefeed(spark, sf_dir)
    feed = str(tmp_path / "feed")
    replay_feed(env, feed, num_chunks=2)
    pipe = CdcEngine.from_config(
        spark,
        {
            "feed.dir": feed,
            "envelope.schema": env.schema,
            "checkpoint.dir": str(tmp_path / "ckpt"),
            "sink.path": str(tmp_path / "target"),
            "sink.pk": "id",
            "sink.insert.mode": "upsert",
            "sink.num.buckets": 4,
            "max.batch.files": 2,
        },
    ).build()
    pipe.run_snapshot(accounts_snapshot(spark, sf_dir))
    pipe.run_available()
    from debezium_spark.suite import load_all

    expected = sorted(
        (r.id, r.status, r.balance)
        for r in load_all()["k1_merge_upsert"].fn(spark, sf_dir).collect()
    )
    got = sorted(
        (r.id, r.status, r.balance)
        for r in pipe.sink.read().select("id", "status", "balance").collect()
    )
    assert got == expected


def test_kafka_source_gated(spark):
    from debezium_spark.sources.kafka import kafka_available

    # No broker/package in this container — the probe must say so cleanly
    # rather than raise.
    assert kafka_available(spark) in (True, False)


def test_config_driven_transform_chain(spark, sf_dir, tmp_path):
    """Kafka-Connect-style `transforms=` property chain: skip truncates,
    filter creates, unwrap, mask a column — in declared order."""
    from debezium_spark.operators.chain import chain_from_config

    chain = chain_from_config(
        {
            "transforms": "drops,only_creates,unwrap,hide",
            "transforms.drops.type": "skip-ops",
            "transforms.drops.skipped.operations": "t,d",
            "transforms.only_creates.type": "filter",
            "transforms.only_creates.condition": "op = 'c'",
            "transforms.unwrap.type": "unwrap",
            "transforms.unwrap.delete.handling.mode": "drop",
            "transforms.hide.type": "mask",
            "transforms.hide.columns": "status",
        }
    )
    env = accounts_changefeed(spark, sf_dir)
    out = env
    for t in chain:
        out = t(out)
    rows = out.collect()
    n_creates = env.filter(F.col("op") == "c").count()
    assert len(rows) == n_creates
    assert {r["status"] for r in rows} == {"***"}
    assert "balance" in out.columns and "id" in out.columns

    # Unknown type → clear error.
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown transform"):
        chain_from_config({"transforms": "x", "transforms.x.type": "nope"})


def test_chain_builds_its_columns_once(spark, monkeypatch):
    """A config-built chain builds its Columns on its first batch and keeps
    them: a second same-schema batch through skip-ops and mask costs at
    most 15 py4j round trips from this thread (85 when every batch built
    its own)."""
    import threading

    import py4j.clientserver as cs

    from debezium_spark.operators.chain import chain_from_config

    chain = chain_from_config(
        {
            "transforms": "skip,mask",
            "transforms.skip.type": "skip-ops",
            "transforms.skip.skipped.operations": "t",
            "transforms.mask.type": "mask",
            "transforms.mask.columns": "note",
        }
    )

    def run(i):
        df = spark.createDataFrame(
            [(i, "c", "x"), (i + 1, "t", None)],
            "pos long, op string, note string",
        )
        calls = 0
        send = cs.ClientServerConnection.send_command
        me = threading.current_thread()

        def counting(conn, command):
            nonlocal calls
            calls += threading.current_thread() is me
            return send(conn, command)

        with monkeypatch.context() as m:
            m.setattr(cs.ClientServerConnection, "send_command", counting)
            for t in chain:
                df = t(df)
        return df, calls

    run(0)
    out, calls = run(10)
    assert calls <= 15, calls
    assert [tuple(r) for r in out.collect()] == [(10, "c", "***")]


def test_chain_through_engine_notifying(spark, sf_dir, tmp_path):
    from debezium_spark.operators.chain import chain_from_config

    env = accounts_changefeed(spark, sf_dir)
    feed = str(tmp_path / "feed")
    replay_feed(env, feed, num_chunks=2)
    chain = chain_from_config(
        {
            "transforms": "u",
            "transforms.u.type": "unwrap",
            "transforms.u.delete.handling.mode": "drop",
        }
    )
    seen = []
    pipe = (
        CdcEngine(spark)
        .source(feed_dir=feed, envelope_schema=env.schema)
        .transforms(chain)
        .notifying(lambda batch, epoch: seen.append(batch.count()))
        .checkpoint(str(tmp_path / "ckpt"))
        .build()
    )
    pipe.run_available()
    assert sum(seen) == env.filter(F.col("op") != "d").count()


def test_engine_from_config_mor_with_transforms(spark, sf_dir, tmp_path):
    """from_config wires the transforms= chain and the MOR sink choice:
    the materialized table reflects the SMT chain (truncates skipped) and
    the sink is a LogMergeSink."""
    from debezium_spark.engine import CdcEngine
    from debezium_spark.sinks.mor import LogMergeSink
    from debezium_spark.sources.changefeed import accounts_changefeed
    from debezium_spark.streaming import replay_feed

    env = accounts_changefeed(spark, sf_dir)
    pipe = CdcEngine.from_config(
        spark,
        {
            "feed.dir": str(tmp_path / "feed"),
            "envelope.schema": env.schema,
            "checkpoint.dir": str(tmp_path / "ckpt"),
            "sink.path": str(tmp_path / "target"),
            "sink.pk": "id",
            "sink.storage": "mor",
            "sink.compact.every": "3",
            "transforms": "drops",
            "transforms.drops.type": "skip-ops",
            "transforms.drops.skipped.operations": "m",
        },
    ).build()
    assert isinstance(pipe.sink, LogMergeSink)
    assert pipe.sink.compact_every == 3
    assert len(pipe.transforms) == 1

    from debezium_spark.sources.changefeed import accounts_snapshot

    pipe.run_snapshot(accounts_snapshot(spark, sf_dir))
    replay_feed(env, str(tmp_path / "feed"), num_chunks=3)
    pipe.run_available()
    got = sorted(
        (r.id, r.status) for r in pipe.sink.read().select("id", "status").collect()
    )
    from debezium_spark.suite import load_all

    want = sorted(
        (r.id, r.status)
        for r in load_all()["k1_merge_upsert"].fn(spark, sf_dir)
        .select("id", "status").collect()
    )
    assert got == want


def test_dlq_reprocess_drains_fixed_rows(spark, sf_dir, tmp_path):
    """After repair, reprocess() replays fixable quarantined envelopes
    through the sink and re-quarantines the rest."""
    from debezium_spark.sinks.dlq import DeadLetterQueue, reprocess
    from debezium_spark.sinks.mor import LogMergeSink
    from tests.test_merge_edges import _mk_event

    env = accounts_changefeed(spark, sf_dir)
    dlq = DeadLetterQueue(spark, str(tmp_path / "dlq"))
    sink = LogMergeSink(spark, str(tmp_path / "t"), ["id"], compact_every=0)
    sink.write_batch(_mk_event(env, key_id=1, op="c", pos=1, status="ok"), 0)

    # two poison rows: one repairable (status null), one not (negative key)
    bad = _mk_event(env, key_id=2, op="c", pos=2, status="ok").withColumn(
        "after", F.col("after").withField("status", F.lit(None).cast("string"))
    ).unionByName(_mk_event(env, key_id=-9, op="c", pos=3, status="ok"))
    dlq.quarantine(bad, reason="validation failed", epoch_id=0)

    fix = lambda df: df.withColumn(  # noqa: E731
        "after",
        F.when(
            F.col("after.status").isNull(),
            F.col("after").withField("status", F.lit("repaired")),
        ).otherwise(F.col("after")),
    )
    replayed, remaining = reprocess(
        dlq, sink, transform=fix, is_valid=F.col("key.id") > 0, epoch_id=1
    )
    assert (replayed, remaining) == (1, 1)
    assert {r.id: r.status for r in sink.read().collect()} == {
        1: "ok", 2: "repaired"
    }
    assert dlq.read().count() == 1  # the unrepairable row stays


def test_lsh_survives_identical_document_cluster(spark):
    """The dedup worst case: a cluster of identical documents collides in
    EVERY band. The groupBy + array-side pair expansion keeps the blowup
    local to one task (no join-side re-evaluation), and the pair count is
    exactly C(n,2) for the cluster — the detector working as designed."""
    from debezium_spark.analytics.text import lsh_candidate_pairs

    n_dup, n_distinct = 800, 200
    docs = spark.range(n_dup + n_distinct).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_dup, F.lit("same text repeated many times over")
        ).otherwise(
            F.concat(F.lit("unique document body "), F.col("id").cast("string"))
        ).alias("text"),
    )
    pairs = lsh_candidate_pairs(docs)
    cluster_pairs = pairs.filter(
        (F.col("a") < n_dup) & (F.col("b") < n_dup)
    ).count()
    assert cluster_pairs == n_dup * (n_dup - 1) // 2
