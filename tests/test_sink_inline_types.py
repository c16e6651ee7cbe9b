"""Which row types may take the merge sinks' Arrow inline path.

``InlineCollector`` decides from the batch schema, before any job runs,
whether a batch can come inline; a declined schema takes the distributed
plan. Every case here writes two batches (inserts, then an update and an
insert) through an inline-enabled sink and through a distributed-only sink
(``inline_max_rows=0``) and requires the same ``read()`` schema and rows.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
import pyspark.sql.types as T

from debezium_spark.envelope import make_envelope
from debezium_spark.sinks.merge import ParquetMergeSink, inline_decline
from debezium_spark.sinks.mor import LogMergeSink

_BATCHES = ([(1, "c", 1), (2, "c", 2)], [(1, "u", 3), (3, "c", 4)])

# one wide row of every type the inline paths carry exactly, nested
# non-null declarations included; id 2 holds a real NaN in both floating
# columns
_MATRIX = ", ".join([
    "CAST(id AS TINYINT) AS i8",
    "CAST(id AS SMALLINT) AS i16",
    "CAST(id AS INT) AS i32",
    "id * 1000000000000 AS i64",
    "CAST(IF(id = 2, 'NaN', '1.5') AS FLOAT) AS f32",
    "CAST(IF(id = 2, 'NaN', '2.5') AS DOUBLE) AS f64",
    "CAST('12345678901234567890.123456789012345678' AS DECIMAL(38,18)) AS dec",
    "CONCAT('s', id) AS s",
    "CAST('ab' AS CHAR(5)) AS ch",
    "CAST(CONCAT('x', id) AS BINARY) AS bin",
    "id % 2 = 0 AS flag",
    "DATE'2020-01-02' + CAST(id AS INT) AS d",
    "TIMESTAMP'2020-01-02 03:04:05.123456' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
    "TIMESTAMP_NTZ'2020-01-02 03:04:05.5' AS ts_ntz",
    "array(CAST(id AS INT), NULL) AS arr",
    "map('k', CAST(id AS DOUBLE), 'n', CAST(NULL AS DOUBLE)) AS m",
    # NULL for id 3 although its fields are declared non-null
    "IF(id = 3, NULL, named_struct('a', CAST(id AS INT), 'b', CONCAT('x', id),"
    " 'c', DATE'2021-01-01', 'e', array(id))) AS st",
    # a non-null struct field nested in an array nested in a struct
    "named_struct('arr', array(named_struct('x', CAST(id AS INT)))) AS nest",
])

# each declined shape as (SQL expression for row field ``v``, or None for
# the UDT case, which has no SQL literal)
_DECLINED = {
    "interval_year_month": "INTERVAL '1-2' YEAR TO MONTH",
    "interval_day_second": "INTERVAL '1 02:03:04.5' DAY TO SECOND",
    "variant": "parse_json(CONCAT('{\"a\": ', id, '}'))",
    "null_type": "NULL",
    "udt": None,
}


def _envelope(df):
    row = F.struct(*[F.col(c) for c in df.columns if c not in ("op", "pos")])
    return make_envelope(
        df,
        key=F.struct(F.col("id")),
        before=F.when(F.col("op") == "d", row),
        after=F.when(F.col("op") != "d", row),
        op=F.col("op"),
        db="db",
        table="t",
        pos=F.col("pos"),
    )


def _sql_batch(spark, rows, select):
    vals = ", ".join(f"({i}, '{op}', {p})" for i, op, p in rows)
    return _envelope(
        spark.sql(
            f"SELECT id, op, pos, {select} FROM VALUES {vals} AS t(id, op, pos)"
        )
    )


def _udt_batch(spark, rows):
    from pyspark.ml.linalg import Vectors, VectorUDT

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("v", VectorUDT()),
    ])
    data = [(i, op, p, Vectors.dense([1.0, float(i)])) for i, op, p in rows]
    return _envelope(spark.createDataFrame(data, schema))


def _sink(spark, kind, path, **kw):
    if kind == "cow":
        return ParquetMergeSink(spark, path, ["id"], num_buckets=1, **kw)
    return LogMergeSink(spark, path, ["id"], compact_every=0, **kw)


def _table(sink):
    got = sink.read()
    return got.schema, sorted(got.toJSON().collect())


def _write_both(spark, tmp_path, kind, batches, inline_only=False, **kw):
    """Write ``batches`` through an inline-enabled sink (options ``kw``)
    and a distributed-only sink; returns both sinks. With
    ``inline_only``, the inline sink's writes fail if they reach the
    distributed plan."""
    inline = _sink(spark, kind, str(tmp_path / "inline"), **kw)
    dist = _sink(spark, kind, str(tmp_path / "dist"), inline_max_rows=0)

    def not_inline(*a, **k):
        raise AssertionError("the batch left the inline path")

    for epoch, batch in enumerate(batches):
        with pytest.MonkeyPatch.context() as m:
            if inline_only:
                m.setattr(
                    inline,
                    "_write_distributed" if kind == "cow" else "_delta_frame",
                    not_inline,
                )
            inline.write_batch(batch, epoch)
        dist.write_batch(batch, epoch)
    return inline, dist


@pytest.mark.parametrize(
    "kind,opts",
    [("cow", {}), ("cow", {"inline_merge_target_rows": 0}), ("mor", {})],
    ids=["cow", "cow-path2", "mor"],
)
def test_type_matrix_inline_matches_distributed(spark, tmp_path, kind, opts):
    """Every inline-carriable type takes the inline path in both sinks and
    reads back with the distributed path's Spark types and values. COW
    merges both batches driver-side, or with ``inline_merge_target_rows=0``
    through the local relation (path 2)."""
    batches = [_sql_batch(spark, rows, _MATRIX) for rows in _BATCHES]
    row_schema = T.StructType(batches[0].schema["after"].dataType.fields)
    assert inline_decline(row_schema) is None
    inline, dist = _write_both(
        spark, tmp_path, kind, batches, inline_only=True, **opts
    )
    assert _table(inline) == _table(dist)
    assert inline.read().filter(F.isnan("f64") & F.isnan("f32")).count() == 1
    if kind == "cow":
        driver_files = glob.glob(
            str(tmp_path / "inline" / "__bucket=*" / "*-inline*")
        )
        assert bool(driver_files) == (not opts)


@pytest.mark.parametrize("kind", ["cow", "mor"])
@pytest.mark.parametrize("shape", sorted(_DECLINED))
def test_declined_shape_matches_distributed(spark, tmp_path, monkeypatch,
                                            kind, shape):
    """A row type the Arrow inline paths cannot carry exactly is declined
    from the schema alone (no collect job runs) and the batch takes the
    distributed plan, so both sinks read back exactly what the
    distributed path writes."""
    expr = _DECLINED[shape]
    batches = [
        _udt_batch(spark, rows) if expr is None
        else _sql_batch(spark, rows, f"{expr} AS v")
        for rows in _BATCHES
    ]
    row_schema = T.StructType(batches[0].schema["after"].dataType.fields)
    assert inline_decline(row_schema).startswith("v")

    collects = []
    to_arrow = type(batches[0]).toArrow

    def counted(df, *a, **k):
        collects.append(df)
        return to_arrow(df, *a, **k)

    monkeypatch.setattr(type(batches[0]), "toArrow", counted)
    inline, dist = _write_both(spark, tmp_path, kind, batches)
    monkeypatch.undo()
    assert collects == []
    assert _table(inline) == _table(dist)


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_undeclared_inline_error_surfaces(spark, tmp_path, monkeypatch, kind):
    """An error inside the inline collect that no decline names surfaces
    from write_batch instead of rerouting the batch, and nothing is
    written."""
    batch = _sql_batch(spark, _BATCHES[0], "CONCAT('s', id) AS s")

    def broken(*a, **k):
        raise RuntimeError("injected inline failure")

    monkeypatch.setattr(type(batch), "toArrow", broken)
    sink = _sink(spark, kind, str(tmp_path / kind))
    with pytest.raises(RuntimeError, match="injected inline failure"):
        sink.write_batch(batch, 0)
    written = glob.glob(str(tmp_path / kind / "**" / "*.parquet"),
                        recursive=True)
    assert written == []
    assert not os.path.exists(tmp_path / kind / "_schema.json")


def test_narrow_batch_on_table_pyarrow_cannot_read(spark, tmp_path):
    """A COW table whose files hold a variant column (written by the
    distributed path) still takes an inline batch of a narrower schema:
    the driver-side merge cannot read those footers and hands the batch
    to the Spark local-relation merge, which matches the distributed
    path."""
    wide = _sql_batch(spark, _BATCHES[0], "parse_json('1') AS v")
    narrow = _sql_batch(spark, _BATCHES[1], "CONCAT('s', id) AS s")
    inline, dist = _write_both(spark, tmp_path, "cow", [wide, narrow])
    assert _table(inline) == _table(dist)
