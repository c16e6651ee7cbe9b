"""The COW sink's three merges — the driver merge, path 2 (the collected
batch joined as a Spark local relation) and the distributed branch —
against each other and against ``merge_changes``: job budgets on a
file-backed 16-bucket batch, truncate parity, narrow batches and the
insert/update modes."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from debezium_spark.envelope import make_envelope
from debezium_spark.sinks.merge import ParquetMergeSink, merge_changes

#: the three merges, as sink options
PATHS = {
    "driver": {},
    "path2": {"inline_merge_target_rows": 0},
    "distributed": {"inline_max_rows": 0},
}


def _env(spark, rows, cols="id long, op string, pos long, v string"):
    """Envelopes from ``(id, op, pos, *row values)`` tuples; op 't' is a
    truncate (no key, no images)."""
    df = spark.createDataFrame(rows, cols)
    row = F.struct(*[F.col(c) for c in df.columns if c not in ("op", "pos")])
    is_row = F.col("op") != "t"
    return make_envelope(
        df,
        key=F.when(is_row, F.struct(F.col("id"))),
        before=F.when(F.col("op") == "d", row),
        after=F.when(is_row & (F.col("op") != "d"), row),
        op=F.col("op"),
        db="db",
        table="t",
        pos=F.col("pos"),
    )


def _file_backed(env, path):
    env.write.parquet(path)
    return env.sparkSession.read.parquet(path)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _frozen(spark, df):
    """``df``'s current rows as a local relation, so a later swap of the
    files behind it cannot change them."""
    return spark.createDataFrame(df.collect(), df.schema)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"cow-paths-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "cow sink paths")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_budgets(spark, tmp_path):
    """A new table's first inline batch and a driver-merge batch run one
    job (the collect), a path-2 batch four, and a distributed batch six:
    its one stats aggregation plus the merge and write, with no truncate
    re-derived in the plan."""
    first = _file_backed(
        _env(spark, [(i, "r", i, "s") for i in range(400)]),
        str(tmp_path / "first"),
    )
    nxt = _file_backed(
        _env(spark, [
            (i * 7 % 500, "d" if i % 5 == 0 else "u", 1000 + i, f"v{i}")
            for i in range(128)
        ]),
        str(tmp_path / "next"),
    )
    got = {}
    for name, opts in PATHS.items():
        sink = ParquetMergeSink(
            spark, str(tmp_path / name), ["id"], num_buckets=16, **opts
        )
        got[name] = (
            _jobs(spark, lambda: sink.write_batch(first, 0)),
            _jobs(spark, lambda: sink.write_batch(nxt, 1)),
        )
    assert got["driver"] == (1, 1)
    assert got["path2"] == (4, 4)
    assert got["distributed"][1] <= 6
    tables = [
        _rows(ParquetMergeSink(spark, str(tmp_path / n), ["id"]).read())
        for n in PATHS
    ]
    assert tables[0] == tables[1] == tables[2] and len(tables[0]) > 300


@pytest.mark.parametrize(
    "second",
    [
        # events on both sides of a truncate: only the later ones survive
        [(1, "u", 10, "x"), (7, "c", 11, "y"), (None, "t", 12, None),
         (2, "u", 13, "z"), (7, "d", 14, None), (8, "c", 15, "w"),
         (8, "u", 16, "w2")],
        # a lone truncate empties the table
        [(None, "t", 20, None)],
    ],
    ids=["around_truncate", "truncate_only"],
)
def test_distributed_truncate_matches_merge_changes(spark, tmp_path, second):
    first = _env(spark, [(i, "c", i, f"s{i}") for i in range(1, 7)])
    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), ["id"], num_buckets=4, inline_max_rows=0
    )
    sink.write_batch(first, 0)
    before = _frozen(spark, sink.read())
    batch = _env(spark, second)
    expected = _rows(merge_changes(before, batch, ["id"]))
    sink.write_batch(batch, 1)
    assert _rows(sink.read().select(*before.columns)) == expected
    assert len(expected) == (2 if len(second) > 1 else 0)


@pytest.mark.parametrize("path", sorted(PATHS))
def test_narrow_batch_keeps_unrewritten_columns(spark, tmp_path, path):
    """A batch lacking a column the table holds leaves that column's
    values on every row it does not rewrite; a rewritten row reads NULL
    there, as a pre-evolution row does."""
    sink = ParquetMergeSink(
        spark, str(tmp_path / path), ["id"], num_buckets=1, **PATHS[path]
    )
    sink.write_batch(_env(spark, [(1, "c", 1, "v1"), (2, "c", 2, "v2")]), 0)
    sink.write_batch(_env(spark, [(1, "u", 3)], "id long, op string, pos long"), 1)
    got = sink.read()
    assert _rows(got.select("id", "v")) == [(1, None), (2, "v2")]
    # a wider batch after the narrow one still lands its column
    sink.write_batch(_env(spark, [(3, "c", 4, "v3")]), 2)
    assert _rows(sink.read().select("id", "v")) == [
        (1, None), (2, "v2"), (3, "v3"),
    ]


@pytest.mark.parametrize("route", ["inline", "distributed"])
@pytest.mark.parametrize("mode", ["insert", "update"])
def test_insert_modes_match_merge_changes(spark, tmp_path, mode, route):
    """Each batch through an ``insert``/``update`` sink leaves what
    ``merge_changes`` makes of the previous state, over a delete and a key
    the table does not hold."""
    path = str(tmp_path / "t")
    ParquetMergeSink(spark, path, ["id"], num_buckets=4).write_batch(
        _env(spark, [(i, "c", i, f"s{i}") for i in range(1, 5)]), 0
    )
    opts = {"inline_max_rows": 0} if route == "distributed" else {}
    sink = ParquetMergeSink(
        spark, path, ["id"], num_buckets=4, insert_mode=mode, **opts
    )
    state = _frozen(spark, sink.read())
    batches = [
        [(1, "u", 10, "a"), (2, "d", 11, None), (9, "c", 12, "new"),
         (5, "r", 13, "snap")],
        [(1, "u", 14, "a2"), (3, "d", 15, None), (8, "u", 16, "absent"),
         (9, "u", 17, "new2")],
    ]
    for epoch, rows in enumerate(batches, start=1):
        batch = _env(spark, rows)
        state = _frozen(
            spark, merge_changes(state, batch, ["id"], insert_mode=mode)
        )
        sink.write_batch(batch, epoch)
        assert _rows(sink.read()) == _rows(state), epoch
