"""Streaming SCD2 sink goldens: incremental closure, delete markers,
replay idempotence, re-create after delete, and agreement with the batch
operator over the same feed."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from debezium_spark.envelope import make_envelope
from debezium_spark.sinks.scd2 import Scd2Sink


def _env(spark, rows):
    ev = spark.createDataFrame(
        rows, "id long, op string, status string, balance double, pos long"
    )
    return make_envelope(
        ev,
        key=F.struct(F.col("id")),
        before=F.lit(None).cast(
            "struct<id:long,status:string,balance:double>"
        ),
        after=F.when(
            F.col("op") != "d",
            F.struct(F.col("id"), F.col("status"), F.col("balance")),
        ),
        op=F.col("op"),
        db="testdb",
        table="accounts",
        pos=F.col("pos"),
    )


def _versions(sink):
    return {
        (r["id"], r["valid_from_pos"]): (
            r["valid_to_pos"],
            r["is_current"],
            r["status"],
        )
        for r in sink.read().collect()
    }


@pytest.fixture()
def sink(spark, tmp_path):
    return Scd2Sink(spark, str(tmp_path / "scd2"), key_cols=["id"])


def test_incremental_versions_and_delete(spark, sink):
    sink.write_batch(_env(spark, [(1, "c", "A", 1.0, 10), (1, "u", "B", 2.0, 20)]), 0)
    got = _versions(sink)
    assert got == {(1, 10): (20, False, "A"), (1, 20): (None, True, "B")}

    # batch 2 closes k1's current version via a delete and creates k2
    sink.write_batch(_env(spark, [(1, "d", None, None, 30), (2, "c", "X", 9.0, 31)]), 1)
    got = _versions(sink)
    assert got[(1, 20)] == (30, False, "B")
    assert got[(2, 31)] == (None, True, "X")
    assert not [k for k, v in got.items() if k[0] == 1 and v[1]]

    # current() equals the latest-state view
    cur = {r["id"]: r["status"] for r in sink.current().collect()}
    assert cur == {2: "X"}


def test_replay_is_idempotent(spark, sink):
    b1 = _env(spark, [(1, "c", "A", 1.0, 10), (1, "u", "B", 2.0, 20)])
    b2 = _env(spark, [(1, "d", None, None, 30), (2, "c", "X", 9.0, 31)])
    sink.write_batch(b1, 0)
    sink.write_batch(b2, 1)
    before = _versions(sink)
    sink.write_batch(b2, 1)  # foreachBatch replay after restart
    assert _versions(sink) == before
    sink.write_batch(b1, 0)  # even a stale re-delivery reproduces the union
    assert _versions(sink) == before


def test_recreate_after_delete_opens_fresh_current(spark, sink):
    sink.write_batch(_env(spark, [(1, "c", "A", 1.0, 10)]), 0)
    sink.write_batch(_env(spark, [(1, "d", None, None, 20)]), 1)
    sink.write_batch(_env(spark, [(1, "c", "C", 3.0, 40)]), 2)
    got = _versions(sink)
    # the delete marker closes v10 at 20 and itself closes at 40 (marker
    # rows are filtered from read(), their closure is internal)
    assert got[(1, 10)] == (20, False, "A")
    assert got[(1, 40)] == (None, True, "C")
    assert len([k for k in got if k[0] == 1]) == 2


def test_matches_batch_operator_over_same_feed(spark, sink, sf_dir):
    """Feeding the accounts changefeed in two micro-batches lands the same
    version set as the one-pass batch operator (delete markers aside)."""
    from debezium_spark.operators.reduce import scd2_history
    from debezium_spark.sources.changefeed import accounts_changefeed

    env = accounts_changefeed(spark, sf_dir).filter(F.col("key.id") <= 10)
    mid = 5000
    sink.write_batch(env.filter(F.col("source.pos") < mid), 0)
    sink.write_batch(env.filter(F.col("source.pos") >= mid), 1)
    got = {
        (r["id"], r["valid_from_pos"], r["valid_to_pos"], r["is_current"])
        for r in sink.read().select(
            "id", "valid_from_pos", "valid_to_pos", "is_current"
        ).collect()
    }
    want_df = scd2_history(env, key_cols=["id"])
    want = {
        (r["id"], r["valid_from_pos"], r["valid_to_pos"], r["is_current"])
        for r in want_df.select(
            "id", "valid_from_pos", "valid_to_pos", "is_current"
        ).collect()
    }
    assert got == want


def test_streaming_feed_matches_batch_operator(spark, sf_dir, tmp_path):
    """End-to-end readStream → foreachBatch(Scd2Sink): the chunked replay
    of the accounts feed materializes the same SCD2 table as the one-pass
    batch operator — and a checkpointed restart re-processes nothing."""
    from debezium_spark.operators.reduce import scd2_history
    from debezium_spark.sources.changefeed import accounts_changefeed
    from debezium_spark.streaming import ChangeDataPipeline, replay_feed

    env = accounts_changefeed(spark, sf_dir).filter(F.col("key.id") <= 25)
    sink = Scd2Sink(spark, str(tmp_path / "scd2"), key_cols=["id"])
    pipe = ChangeDataPipeline(
        spark,
        feed_dir=str(tmp_path / "feed"),
        envelope_schema=env.schema,
        sink=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    replay_feed(env, str(tmp_path / "feed"), num_chunks=4)
    pipe.run_available()
    assert pipe.batches_seen >= 4

    got = {
        (r["id"], r["valid_from_pos"], r["valid_to_pos"], r["is_current"])
        for r in sink.read()
        .select("id", "valid_from_pos", "valid_to_pos", "is_current")
        .collect()
    }
    want = {
        (r["id"], r["valid_from_pos"], r["valid_to_pos"], r["is_current"])
        for r in scd2_history(env, key_cols=["id"])
        .select("id", "valid_from_pos", "valid_to_pos", "is_current")
        .collect()
    }
    assert got == want

    before = got
    pipe.run_available()  # restart on the same checkpoint: nothing new
    after = {
        (r["id"], r["valid_from_pos"], r["valid_to_pos"], r["is_current"])
        for r in sink.read()
        .select("id", "valid_from_pos", "valid_to_pos", "is_current")
        .collect()
    }
    assert after == before


def test_unreadable_table_raises_and_keeps_files(spark, sink):
    """A table that exists but cannot be read is not "no table": the
    write raises and every file stays as it was. Treating the read error
    as an absent table rewrote the touched bucket from the batch alone,
    dropping the other keys' and the key's earlier versions."""
    import glob
    import os

    sink.write_batch(
        _env(spark, [(1, "c", "A", 1.0, 10), (2, "c", "B", 2.0, 11)]), 0
    )
    files = sorted(glob.glob(os.path.join(sink.path, "__bucket=*", "*")))
    assert files
    for p in files:
        with open(p, "wb") as f:
            f.write(b"garbage")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        sink.write_batch(_env(spark, [(1, "u", "C", 3.0, 20)]), 1)
    assert sorted(glob.glob(os.path.join(sink.path, "__bucket=*", "*"))) == files
    for p in files:
        with open(p, "rb") as f:
            assert f.read() == b"garbage"


def test_batch_job_budget(spark, sink):
    """The touched buckets and the empty-batch check are one aggregation:
    a batch on an existing table runs 10 Spark jobs (12 when a head(1)
    and a separate distinct().collect() of the buckets ran first)."""
    sc = spark.sparkContext
    jobs = []
    batches = [
        _env(spark, [(1, "c", "A", 1.0, 10), (2, "c", "B", 2.0, 11)]),
        _env(spark, [(1, "u", "C", 3.0, 20)]),
    ]
    for epoch, batch in enumerate(batches):
        group = f"scd2-job-budget-{epoch}"
        sc.setJobGroup(group, "scd2 job budget")
        try:
            sink.write_batch(batch, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[1] == 10, jobs
    assert _versions(sink)[(1, 10)] == (20, False, "A")
