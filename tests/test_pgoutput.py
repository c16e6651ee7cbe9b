"""Binary pgoutput wire-format goldens (sources/pgoutput.py).

Byte layouts pinned against PgOutputMessageDecoder.java's reads: BEGIN
(:264-274), COMMIT (:281-294), RELATION (:320-372), INSERT (:447-469),
UPDATE (:478-516), DELETE (:525-549), TRUNCATE (:556-612), cstring/value
reads (:726-746), tuple sub-messages 't'/'n'/'u' (:756-820). Every
expected value below is a hand-written byte string — the decode side is
checked against the PROTOCOL, not against our own encoder.
"""

from __future__ import annotations

import pytest

from debezium_spark.sources.pgoutput import (
    decode_pgoutput_binary,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_truncate,
    encode_tuple_data,
    encode_update,
    parse_message,
)


def test_begin_bytes_and_parse():
    raw = encode_begin(final_lsn=999, commit_ts_us=5_000_000, xid=42)
    assert raw == (
        b"B"
        + (999).to_bytes(8, "big")
        + (5_000_000).to_bytes(8, "big")
        + (42).to_bytes(4, "big")
    )
    m = parse_message(raw)
    assert m == {
        "kind": "begin", "final_lsn": 999, "commit_ts_us": 5_000_000,
        "xid": 42,
    }


def test_begin_xid_is_unsigned_int32():
    """Integer.toUnsignedLong(buffer.getInt()) — an xid past 2^31 must not
    come back negative."""
    xid = 0xFFFF_FFF0  # 4294967280, negative as signed int32
    raw = b"B" + (1).to_bytes(8, "big") + (2).to_bytes(8, "big") + (
        xid
    ).to_bytes(4, "big")
    assert parse_message(raw)["xid"] == xid


def test_commit_bytes_and_parse():
    raw = encode_commit(commit_lsn=7, end_lsn=9, commit_ts_us=123, flags=0)
    assert raw == (
        b"C\x00"
        + (7).to_bytes(8, "big")
        + (9).to_bytes(8, "big")
        + (123).to_bytes(8, "big")
    )
    assert parse_message(raw) == {
        "kind": "commit", "flags": 0, "commit_lsn": 7, "end_lsn": 9,
        "commit_ts_us": 123,
    }


def test_relation_bytes_and_parse():
    raw = encode_relation(
        16385, "public", "t", [(1, "id", 20, -1), (0, "s", 25, -1)],
        replica_identity="d",
    )
    expected = (
        b"R"
        + (16385).to_bytes(4, "big")
        + b"public\x00t\x00d"
        + (2).to_bytes(2, "big")
        + b"\x01id\x00" + (20).to_bytes(4, "big") + b"\xff\xff\xff\xff"
        + b"\x00s\x00" + (25).to_bytes(4, "big") + b"\xff\xff\xff\xff"
    )
    assert raw == expected
    m = parse_message(raw)
    assert (m["kind"], m["relation_id"], m["schema"], m["table"]) == (
        "relation", 16385, "public", "t",
    )
    assert m["replica_identity"] == "d"
    assert m["columns"] == [
        {"flags": 1, "name": "id", "type_oid": 20, "atttypmod": -1},
        {"flags": 0, "name": "s", "type_oid": 25, "atttypmod": -1},
    ]


def test_tuple_data_sub_messages():
    raw = encode_tuple_data([("t", "héllo"), ("n", None), ("u", None)])
    payload = "héllo".encode("utf-8")
    assert raw == (
        (3).to_bytes(2, "big")
        + b"t" + len(payload).to_bytes(4, "big") + payload
        + b"n" + b"u"
    )
    with pytest.raises(ValueError, match="sub-message"):
        encode_tuple_data([("x", "?")])


def test_insert_bytes_and_parse():
    raw = encode_insert(16385, [("t", "1"), ("n", None)])
    assert raw == (
        b"I" + (16385).to_bytes(4, "big") + b"N"
        + (2).to_bytes(2, "big") + b"t" + (1).to_bytes(4, "big") + b"1"
        + b"n"
    )
    m = parse_message(raw)
    assert m == {
        "kind": "insert", "relation_id": 16385,
        "after": [("t", "1"), ("n", None)],
    }


def test_update_with_and_without_old_tuple():
    plain = parse_message(encode_update(5, [("t", "a")]))
    assert plain["before"] is None and plain["before_kind"] is None
    assert plain["after"] == [("t", "a")]

    keyed = encode_update(
        5, [("t", "a")], before=[("t", "k"), ("n", None)], before_kind="K"
    )
    assert keyed == (
        b"U" + (5).to_bytes(4, "big")
        + b"K" + (2).to_bytes(2, "big")
        + b"t" + (1).to_bytes(4, "big") + b"k" + b"n"
        + b"N" + (1).to_bytes(2, "big")
        + b"t" + (1).to_bytes(4, "big") + b"a"
    )
    m = parse_message(keyed)
    assert m["before_kind"] == "K"
    assert m["before"] == [("t", "k"), ("n", None)]
    # replica identity FULL sends the whole old row as 'O'
    full = parse_message(
        encode_update(5, [("t", "a")], before=[("t", "x")], before_kind="O")
    )
    assert full["before_kind"] == "O" and full["before"] == [("t", "x")]


def test_delete_bytes_and_parse():
    raw = encode_delete(5, [("t", "k")], before_kind="K")
    assert raw == (
        b"D" + (5).to_bytes(4, "big") + b"K"
        + (1).to_bytes(2, "big") + b"t" + (1).to_bytes(4, "big") + b"k"
    )
    m = parse_message(raw)
    assert (m["kind"], m["before_kind"], m["before"]) == (
        "delete", "K", [("t", "k")],
    )


def test_truncate_bytes_flags_and_parse():
    raw = encode_truncate([1, 2, 3], flags=3)  # RESTART IDENTITY + CASCADE
    assert raw == (
        b"T" + (3).to_bytes(4, "big") + b"\x03"
        + (1).to_bytes(4, "big") + (2).to_bytes(4, "big")
        + (3).to_bytes(4, "big")
    )
    assert parse_message(raw) == {
        "kind": "truncate", "relation_ids": [1, 2, 3], "flags": 3,
    }


def test_origin_and_unknown_messages():
    raw = b"O" + (77).to_bytes(8, "big") + b"node-a\x00"
    assert parse_message(raw) == {
        "kind": "origin", "commit_lsn": 77, "name": "node-a",
    }
    # unknown message codes skip, never raise
    assert parse_message(b"Zjunk")["kind"] == "skip"


def test_logical_decoding_message():
    """PG14 'M' message (PgOutputMessageDecoder.java:628-660): flag, LSN,
    prefix cstring, length-prefixed content."""
    from debezium_spark.sources.pgoutput import encode_logical_message

    raw = encode_logical_message(
        "wal2json", b"\x01\x02", transactional=True, lsn=55
    )
    assert raw == (
        b"M\x01" + (55).to_bytes(8, "big") + b"wal2json\x00"
        + (2).to_bytes(4, "big") + b"\x01\x02"
    )
    m = parse_message(raw)
    assert (m["kind"], m["transactional"], m["message_lsn"]) == (
        "message", True, 55,
    )
    assert (m["prefix"], m["content"]) == ("wal2json", b"\x01\x02")
    nt = parse_message(
        encode_logical_message("p", b"", transactional=False, lsn=1)
    )
    assert nt["transactional"] is False and nt["content"] == b""


def test_distributed_decode_with_schema_evolution_and_toast(spark):
    """End-to-end over the Spark kernels: a relation that EVOLVES
    mid-stream (two 'R' versions) names tuples by the version in effect
    at each message's LSN; TOAST and null cells and old-key tuples land
    in the right output fields; tx metadata attaches from the BEGIN
    interval."""
    from debezium_spark.sources.pgoutput import encode_commit as _c

    msgs = [
        (0, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                               (0, "v", 25, -1)])),
        (1, encode_begin(4, 1_000_000, 100)),
        (2, encode_insert(9, [("t", "1"), ("t", "a")])),
        (3, encode_update(9, [("t", "1"), ("u", None)],
                          before=[("t", "1"), ("n", None)],
                          before_kind="K")),
        (4, _c(4, 4, 1_000_000)),
        # schema evolution: column added; later messages carry 3 cells
        (5, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                               (0, "v", 25, -1),
                                               (0, "w", 23, -1)])),
        (6, encode_begin(9, 2_000_000, 101)),
        (7, encode_insert(9, [("t", "2"), ("n", None), ("t", "9")])),
        (8, encode_delete(9, [("t", "2"), ("n", None), ("n", None)])),
        (9, _c(9, 9, 2_000_000)),
    ]
    df = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, msg binary"
    )
    out = {
        r["lsn"]: r
        for r in decode_pgoutput_binary(spark, df).collect()
    }
    assert len(out) == 4  # only data messages
    ins1 = out[2]
    assert (ins1["op"], ins1["table"], ins1["xid"]) == ("c", "t", 100)
    assert ins1["commit_ts_us"] == 1_000_000
    assert ins1["after"] == {"id": "1", "v": "a"}
    assert ins1["before"] is None
    upd = out[3]
    assert upd["op"] == "u" and upd["before_kind"] == "K"
    assert upd["before"] == {"id": "1"} and upd["before_nulls"] == ["v"]
    assert upd["after"] == {"id": "1"} and upd["after_toasted"] == ["v"]
    ins2 = out[7]  # post-evolution: third column named
    assert ins2["xid"] == 101
    assert ins2["after"] == {"id": "2", "w": "9"}
    assert ins2["after_nulls"] == ["v"]
    dele = out[8]
    assert dele["op"] == "d" and dele["after"] is None
    assert dele["before"] == {"id": "2"}
    assert sorted(dele["before_nulls"]) == ["v", "w"]


def test_type_message():
    """'Y' type message: int32 OID, namespace cstring, name cstring."""
    raw = b"Y" + (90210).to_bytes(4, "big") + b"public\x00citext\x00"
    assert parse_message(raw) == {
        "kind": "type", "type_oid": 90210, "namespace": "public",
        "name": "citext",
    }


def test_stream_decoder_carries_relations_across_batches(spark, monkeypatch):
    """A RELATION message from micro-batch 1 must still name tuples in
    micro-batch 2 (which carries no 'R' of its own), and a schema-change
    'R' in a later batch versions the registry from its LSN on."""
    from debezium_spark.sources.pgoutput import PgOutputStreamDecoder

    def frame(rows):
        return spark.createDataFrame(
            [(lsn, bytearray(m)) for lsn, m in rows], "lsn long, msg binary"
        )

    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        b1 = frame([
            (0, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                                   (0, "v", 25, -1)])),
            (1, encode_begin(3, 1_000_000, 100)),
            (2, encode_insert(9, [("t", "1"), ("t", "a")])),
            (3, encode_commit(3, 3, 1_000_000)),
        ])
        out1 = {r["lsn"]: r for r in dec.decode_batch(b1).collect()}
        assert out1[2]["after"] == {"id": "1", "v": "a"}

        # batch 2: NO relation message — the persisted registry names it
        b2 = frame([
            (4, encode_begin(6, 2_000_000, 101)),
            (5, encode_insert(9, [("t", "2"), ("n", None)])),
            (6, encode_commit(6, 6, 2_000_000)),
        ])
        out2 = {r["lsn"]: r for r in dec.decode_batch(b2).collect()}
        assert out2[5]["after"] == {"id": "2"}
        assert out2[5]["after_nulls"] == ["v"]
        assert out2[5]["xid"] == 101

        # batch 3: schema change, then data under the NEW relation version
        b3 = frame([
            (7, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                                   (0, "v", 25, -1),
                                                   (0, "w", 23, -1)])),
            (8, encode_begin(10, 3_000_000, 102)),
            (9, encode_insert(9, [("t", "3"), ("t", "b"), ("t", "7")])),
            (10, encode_commit(10, 10, 3_000_000)),
        ])
        out3 = {r["lsn"]: r for r in dec.decode_batch(b3).collect()}
        assert out3[9]["after"] == {"id": "3", "v": "b", "w": "7"}
        # restart recovery surface: relations are exportable and re-feedable
        dec2 = PgOutputStreamDecoder(spark, bootstrap=dec.relations)
        out2b = {r["lsn"]: r for r in dec2.decode_batch(frame([
            (11, encode_insert(9, [("t", "4"), ("n", None), ("n", None)])),
        ])).collect()}
        assert out2b[11]["after"] == {"id": "4"}
        assert sorted(out2b[11]["after_nulls"]) == ["v", "w"]
        _assert_route(dec, route)
        _assert_route(dec2, route)


def test_protocol_v2_stream_messages():
    """Protocol v2 (PG14) streamed-transaction framing: Stream Start /
    Stop / Commit / Abort, and the int32-xid prefix data messages carry
    inside a segment. The reference pins proto_version 1, so this is the
    engine's scale extension — with per-message xids the tx attach
    becomes a plain equi-join."""
    from debezium_spark.sources.pgoutput import (
        encode_stream_abort,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    s = encode_stream_start(0xFFFF_FFF0, first_segment=True)
    assert s == b"S" + (0xFFFF_FFF0).to_bytes(4, "big") + b"\x01"
    m = parse_message(s)
    assert m == {
        "kind": "stream_start", "xid": 0xFFFF_FFF0, "first_segment": True,
    }
    assert parse_message(encode_stream_stop()) == {"kind": "stream_stop"}

    c = encode_stream_commit(7, 100, 110, 9_000_000)
    assert c == (
        b"c" + (7).to_bytes(4, "big") + b"\x00"
        + (100).to_bytes(8, "big") + (110).to_bytes(8, "big")
        + (9_000_000).to_bytes(8, "big")
    )
    m = parse_message(c)
    assert (m["kind"], m["xid"], m["commit_lsn"], m["end_lsn"]) == (
        "stream_commit", 7, 100, 110,
    )
    a = parse_message(encode_stream_abort(7, 9))
    assert a == {
        "kind": "stream_abort", "xid": 7, "subtransaction_xid": 9,
    }

    # in-segment data message: xid spliced after the code byte
    ins = with_stream_xid(encode_insert(5, [("t", "1")]), 7)
    assert ins[:5] == b"I" + (7).to_bytes(4, "big")
    m = parse_message(ins, in_stream=True)
    assert (m["kind"], m["stream_xid"], m["after"]) == (
        "insert", 7, [("t", "1")],
    )
    # the same bytes parsed OUTSIDE a segment would misread — framing is
    # the reader's job, exactly like stamping the LSN
    rel = with_stream_xid(
        encode_relation(5, "public", "t", [(1, "id", 20, -1)]), 7
    )
    m = parse_message(rel, in_stream=True)
    assert (m["kind"], m["stream_xid"], m["table"]) == ("relation", 7, "t")


def test_distributed_v2_decode_equi_join_tx(spark):
    """Frames decoded with an in_stream column surface stream_xid, so tx
    metadata attaches by equi-join against the stream-commit frames."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import (
        decode_frames,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    msgs = [
        (1, encode_stream_start(42), False),
        (2, with_stream_xid(encode_insert(5, [("t", "1")]), 42), True),
        (3, with_stream_xid(encode_insert(5, [("t", "2")]), 42), True),
        (4, encode_stream_stop(), False),
        (5, encode_stream_commit(42, 5, 5, 7_000_000), False),
    ]
    df = spark.createDataFrame(
        [(lsn, bytearray(m), st) for lsn, m, st in msgs],
        "lsn long, msg binary, in_stream boolean",
    )
    frames = decode_frames(df, in_stream_col="in_stream")
    data = frames.filter(F.col("kind") == "insert")
    commits = frames.filter(F.col("kind") == "stream_commit").select(
        F.col("xid").alias("stream_xid"),
        F.col("commit_ts_us").alias("tx_ts_us"),
    )
    out = data.join(F.broadcast(commits), "stream_xid").collect()
    assert len(out) == 2
    assert all(r["tx_ts_us"] == 7_000_000 for r in out)
    assert sorted(r["lsn"] for r in out) == [2, 3]


def test_same_lsn_relations_sort_without_typeerror(spark):
    """Two RELATION messages sharing an LSN (the multi-table bootstrap
    convention, everything stamped at lsn 0) must sort on (lsn,
    relation_id) — never fall through to dict<dict (TypeError)."""
    from debezium_spark.sources.pgoutput import collect_relations

    df = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(
                8, "public", "a", [(1, "id", 20, -1)]))),
            (0, bytearray(encode_relation(
                7, "public", "b", [(1, "id", 20, -1)]))),
        ],
        "lsn long, msg binary",
    )
    parsed = collect_relations(df)
    assert [(lsn, m["relation_id"]) for lsn, m in parsed] == [(0, 7), (0, 8)]


def test_v2_framing_derived_end_to_end(spark):
    """decode_pgoutput_binary with NO in_stream column derives segment
    membership from the Stream Start/Stop marks itself: a v1 tx and a
    v2 streamed tx decode side by side, a streamed tx with no commit is
    withheld, and an aborted streamed tx's rows are discarded."""
    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        encode_stream_abort,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    msgs = [
        (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)])),
        # v1 transaction
        (1, encode_begin(3, 1_000_000, 100)),
        (2, encode_insert(9, [("t", "1")])),
        (3, encode_commit(3, 3, 1_000_000)),
        # v2 streamed tx 42 — committed
        (4, encode_stream_start(42)),
        (5, with_stream_xid(encode_insert(9, [("t", "2")]), 42)),
        (6, encode_stream_stop()),
        (7, encode_stream_commit(42, 7, 7, 2_000_000)),
        # v2 streamed tx 43 — aborted (full-tx abort: subxid == xid)
        (8, encode_stream_start(43)),
        (9, with_stream_xid(encode_insert(9, [("t", "3")]), 43)),
        (10, encode_stream_stop()),
        (11, encode_stream_abort(43, 43)),
        # v2 streamed tx 44 — still pending (no commit in this frame)
        (12, encode_stream_start(44)),
        (13, with_stream_xid(encode_insert(9, [("t", "4")]), 44)),
        (14, encode_stream_stop()),
    ]
    df = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, msg binary"
    )
    out = {r["lsn"]: r for r in
           decode_pgoutput_binary(spark, df).collect()}
    assert set(out) == {2, 5}  # aborted 43 and pending 44 withheld
    assert out[2]["xid"] == 100 and out[2]["after"] == {"id": "1"}
    assert out[5]["xid"] == 42 and out[5]["commit_ts_us"] == 2_000_000
    assert out[5]["after"] == {"id": "2"}


def test_v2_subtransaction_abort_raises(spark, monkeypatch):
    """Partial-tx rollback (abort of a subtransaction only) is
    unsupported — raise, never silently emit a corrupted tx."""
    import pytest as _pytest

    from debezium_spark.sources.pgoutput import (
        PgOutputStreamDecoder,
        decode_pgoutput_binary,
        encode_stream_abort,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    msgs = [
        (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)])),
        (1, encode_stream_start(50)),
        (2, with_stream_xid(encode_insert(9, [("t", "1")]), 50)),
        (3, encode_stream_stop()),
        (4, encode_stream_abort(50, 51)),  # subxact 51 within tx 50
    ]
    df = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, msg binary"
    )
    with _pytest.raises(ValueError, match="subtransaction"):
        decode_pgoutput_binary(spark, df)
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        with _pytest.raises(ValueError, match="subtransaction"):
            dec.decode_batch(df)
        _assert_route(dec, route)


def test_stream_decoder_v2_tx_across_micro_batches(spark, monkeypatch):
    """A tx streamed across two micro-batches lands exactly once (in the
    batch whose Stream Commit arrives); an aborted streamed tx is
    discarded. Segment membership is derived by the reader fold, with
    the open-segment flag carried across the batch boundary."""
    from debezium_spark.sources.pgoutput import (
        PgOutputStreamDecoder,
        encode_stream_abort,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    def frame(rows):
        return spark.createDataFrame(
            [(lsn, bytearray(m)) for lsn, m in rows], "lsn long, msg binary"
        )

    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        # batch 1: relation + first segment of tx 60 (left OPEN at the
        # boundary — the row at lsn 3 is in-segment only via carried state)
        out1 = dec.decode_batch(frame([
            (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)])),
            (1, encode_stream_start(60)),
            (2, with_stream_xid(encode_insert(9, [("t", "1")]), 60)),
            (3, with_stream_xid(encode_insert(9, [("t", "2")]), 60)),
        ])).collect()
        assert out1 == []  # nothing committed yet

        # batch 2: segment closes, second segment streams, commit arrives
        out2 = {r["lsn"]: r for r in dec.decode_batch(frame([
            (4, encode_stream_stop()),
            (5, encode_stream_start(60, first_segment=False)),
            (6, with_stream_xid(encode_insert(9, [("t", "3")]), 60)),
            (7, encode_stream_stop()),
            (8, encode_stream_commit(60, 8, 8, 5_000_000)),
        ])).collect()}
        assert set(out2) == {2, 3, 6}  # the whole tx, exactly once
        assert all(r["xid"] == 60 and r["commit_ts_us"] == 5_000_000
                   for r in out2.values())
        assert out2[2]["after"] == {"id": "1"}
        assert out2[6]["after"] == {"id": "3"}

        # batch 3: a streamed tx that ABORTS never lands
        out3 = dec.decode_batch(frame([
            (9, encode_stream_start(61)),
            (10, with_stream_xid(encode_insert(9, [("t", "9")]), 61)),
            (11, encode_stream_stop()),
            (12, encode_stream_abort(61, 61)),
        ])).collect()
        assert out3 == []
        # batch 4: and it stays gone (nothing lingers in the pending buffer)
        out4 = {r["lsn"]: r for r in dec.decode_batch(frame([
            (13, encode_begin(15, 9_000_000, 70)),
            (14, encode_insert(9, [("t", "5")])),
            (15, encode_commit(15, 15, 9_000_000)),
        ])).collect()}
        assert set(out4) == {14}
        assert out4[14]["after"] == {"id": "5"} and out4[14]["xid"] == 70
        _assert_route(dec, route)


def test_typed_projection_schema_and_values(spark):
    """Per-OID goldens for the cast layer: the registry's
    (col_oids, col_typmods) must drive REAL Spark types — DecimalType
    from atttypmod, TimestampType from ISO text, DateType, BinaryType,
    typed arrays — and the values must round-trip PG's text forms."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType, BinaryType, BooleanType, DateType, DecimalType,
        DoubleType, IntegerType, LongType, StringType, TimestampNTZType,
        TimestampType,
    )

    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    cols = [
        (1, "id", 20, -1), (0, "ok", 16, -1), (0, "amt", 1700,
        ((10 << 16) | 3) + 4), (0, "sc", 701, -1), (0, "d", 1082, -1),
        (0, "ts", 1184, -1), (0, "tsn", 1114, -1), (0, "bin", 17, -1),
        (0, "ints", 1007, -1), (0, "words", 1009, -1), (0, "tm", 1083, -1),
    ]
    after = [
        ("t", "7"), ("t", "f"), ("t", "12.345"), ("t", "2.5"),
        ("t", "2021-06-01"), ("t", "2021-06-01 12:00:01+00"),
        ("t", "2021-06-01 12:00:01"), ("t", "\\x00ff"),
        ("t", "{3,NULL}"), ("t", '{"a,b"}'), ("t", "01:02:03"),
    ]
    df = spark.createDataFrame(
        [
            (0, bytearray(encode_relation(99, "public", "tt", cols))),
            (1, bytearray(encode_begin(5, 1_000_000, 10))),
            (2, bytearray(encode_insert(99, after))),
            (5, bytearray(encode_commit(5, 5, 1_000_000))),
        ],
        "lsn long, msg binary",
    )
    reg = relation_registry(spark, df)
    typed = typed_projection(
        decode_pgoutput_binary(spark, df, registry=reg), reg, "public", "tt"
    )
    t = {f.name: f.dataType for f in typed.schema.fields}
    assert t["id"] == LongType() and t["ok"] == BooleanType()
    assert t["amt"] == DecimalType(10, 3)          # from atttypmod
    assert t["sc"] == DoubleType() and t["d"] == DateType()
    assert t["ts"] == TimestampType() and t["tsn"] == TimestampNTZType()
    assert t["bin"] == BinaryType() and t["tm"] == LongType()
    assert t["ints"] == ArrayType(IntegerType())
    assert t["words"] == ArrayType(StringType())
    r = typed.collect()[0]
    assert (r["id"], r["ok"], r["amt"]) == (7, False, Decimal("12.345"))
    assert r["sc"] == 2.5
    assert r["d"] == datetime.date(2021, 6, 1)
    assert r["ts"] == datetime.datetime(2021, 6, 1, 12, 0, 1)
    assert r["tsn"] == datetime.datetime(2021, 6, 1, 12, 0, 1)
    assert bytes(r["bin"]) == b"\x00\xff"
    assert r["ints"] == [3, None]
    # quoted text element with an embedded comma is OUT of slice (split
    # on top-level commas) — a quote-free element round-trips exactly
    assert r["tm"] == 3723 * 1_000_000
    assert r["xid"] == 10 and r["commit_ts_us"] == 1_000_000

    # unknown OID refuses (no silent text passthrough)
    import pytest as _pytest

    from debezium_spark.sources.pgoutput import pg_typed_value
    from pyspark.sql import functions as F

    # refcursor (1790) stays genuinely exotic — tsvector/point are mapped
    with _pytest.raises(ValueError, match="OID 1790"):
        pg_typed_value(F.lit("x"), 1790)


def test_typed_projection_is_version_aware(spark):
    """A mid-stream RELATION change (new column, and a column RETYPED
    int4 -> numeric) must project each side of the boundary under its
    own OID/typmod list; pre-evolution rows surface the added column as
    a typed NULL."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    from debezium_spark.sources.pgoutput import (
        decode_pgoutput_binary,
        relation_registry,
        typed_projection,
    )

    v1 = [(1, "id", 20, -1), (0, "x", 23, -1)]            # x: int4
    v2 = [(1, "id", 20, -1), (0, "x", 1700, ((8 << 16) | 2) + 4),
          (0, "y", 25, -1)]                                # x: numeric(8,2)
    msgs = [
        (0, encode_relation(9, "public", "t", v1)),
        (1, encode_begin(3, 1_000_000, 1)),
        (2, encode_insert(9, [("t", "7"), ("t", "41")])),
        (3, encode_commit(3, 3, 1_000_000)),
        (4, encode_relation(9, "public", "t", v2)),
        (5, encode_begin(7, 2_000_000, 2)),
        (6, encode_insert(9, [("t", "8"), ("t", "41.50"), ("t", "hi")])),
        (7, encode_commit(7, 7, 2_000_000)),
    ]
    df = spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in msgs], "lsn long, msg binary"
    )
    reg = relation_registry(spark, df)
    typed = typed_projection(
        decode_pgoutput_binary(spark, df, registry=reg), reg, "public", "t"
    )
    # unionByName resolves x to a common type; the v2 decimal governs
    assert isinstance(
        {f.name: f.dataType for f in typed.schema.fields}["x"], DecimalType
    )
    out = {r["lsn"]: r for r in typed.collect()}
    assert out[2]["x"] == Decimal("41") and out[2]["y"] is None
    assert out[6]["x"] == Decimal("41.50") and out[6]["y"] == "hi"


def test_unknown_oid_raises_unless_included(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    with _pytest.raises(ValueError, match="no typed mapping"):
        pg_typed_value(F.lit("anything"), 99999)

    # include.unknown.datatypes path: text passthrough for custom types
    df = spark.range(1).select(
        pg_typed_value(F.lit("(1,2)"), 99999, include_unknown=True)
        .alias("v")
    )
    assert df.collect()[0]["v"] == "(1,2)"
    assert dict(df.dtypes)["v"] == "string"


# ---------------------------------------------------------------------------
# s22b — the real array_out grammar + the OID tail
# (PostgresValueConverter.java:286-324 and its array path)
# ---------------------------------------------------------------------------
def test_pg_array_quoted_elements_full_grammar(spark):
    """Quoted elements with embedded commas/braces, escaped quotes and
    backslashes, unquoted NULL vs quoted "NULL", empty arrays, empty
    strings — the shapes the old bare-comma split silently corrupted."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_array_value

    rows = [
        ('{"a,b",NULL,"c\\"d"}', ["a,b", None, 'c"d']),
        ('{plain,"NULL","x\\\\y"}', ["plain", "NULL", "x\\y"]),
        ('{"{not,nested}",end}', ["{not,nested}", "end"]),
        ('{""}', [""]),
        ("{}", []),
        (None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s string")
    got = [
        r["a"]
        for r in df.select(
            pg_array_value(F.col("s"), "").alias("a")
        ).collect()
    ]
    assert got == [exp for _, exp in rows]


def test_pg_array_two_dimensional_and_guards(spark):
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_array_value

    df = spark.createDataFrame(
        [('{{1,2},{3,4},{}}',)], "s string"
    )
    out = df.select(
        pg_array_value(F.col("s"), "int", ndims=2).alias("a")
    ).collect()[0]["a"]
    assert out == [[1, 2], [3, 4], []]

    # 2-D text with quoted elements containing '}' and ','
    dft = spark.createDataFrame([('{{"a}b","c,d"},{NULL}}',)], "s string")
    outt = dft.select(
        pg_array_value(F.col("s"), "", ndims=2).alias("a")
    ).collect()[0]["a"]
    assert outt == [["a}b", "c,d"], [None]]

    # declared-1D column receiving nested content must raise, not mis-parse
    import pytest as _pytest

    with _pytest.raises(Exception, match="declared 1-D"):
        df.select(
            pg_array_value(F.col("s"), "int", ndims=1).alias("a")
        ).collect()
    # declared-2D column receiving scalars must raise too
    one = spark.createDataFrame([("{1,2}",)], "s string")
    with _pytest.raises(Exception, match="declared 2-D"):
        one.select(
            pg_array_value(F.col("s"), "int", ndims=2).alias("a")
        ).collect()


def test_pg_oid_tail_interval_money_net_point(spark):
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import (
        PG_CIDR,
        PG_INET,
        PG_INTERVAL,
        PG_MACADDR,
        PG_MONEY,
        PG_POINT,
        pg_typed_value,
    )

    df = spark.createDataFrame(
        [
            ("1 year 2 mons 3 days 04:05:06.789", "$1,234.56",
             "192.168.100.128/25", "08:00:2b:01:02:03", "(2.5,-3.75)"),
            ("-1 days +02:03:04", "-$0.07", "::1",
             "ff:ff:ff:ff:ff:ff", "(0,0)"),
            ("00:00:02.5", "$0.00", "10.1.2.3", "aa:bb:cc:dd:ee:ff",
             "(-1.5,2)"),
        ],
        "iv string, m string, net string, mac string, pt string",
    )
    out = df.select(
        pg_typed_value(F.col("iv"), PG_INTERVAL).alias("iso"),
        pg_typed_value(F.col("m"), PG_MONEY).alias("money"),
        pg_typed_value(F.col("net"), PG_INET).alias("inet"),
        pg_typed_value(F.col("mac"), PG_MACADDR).alias("mac"),
        pg_typed_value(F.col("pt"), PG_POINT).alias("pt"),
    ).collect()
    assert [r["iso"] for r in out] == [
        "P1Y2M3DT4H5M6.789S", "P0Y0M-1DT2H3M4S", "P0Y0M0DT0H0M2.5S",
    ]
    assert [str(r["money"]) for r in out] == ["1234.56", "-0.07", "0.00"]
    assert [r["inet"] for r in out] == [
        "192.168.100.128/25", "::1", "10.1.2.3",
    ]
    assert out[0]["pt"]["x"] == 2.5 and out[0]["pt"]["y"] == -3.75
    assert out[2]["pt"]["x"] == -1.5 and out[2]["pt"]["y"] == 2.0

    # malformed inet/macaddr raises rather than passing through
    import pytest as _pytest

    bad = spark.createDataFrame([("not an addr",)], "net string")
    with _pytest.raises(Exception, match="malformed"):
        bad.select(
            pg_typed_value(F.col("net"), PG_CIDR).alias("v")
        ).collect()


def test_pg_temporal_and_uuid_arrays(spark):
    """date[]/timestamp[]/timestamptz[]/uuid[]/bpchar[] element casts;
    timestamp elements arrive QUOTED in array_out (they contain spaces)
    so the quote-aware tokenizer must unescape before the cast."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    df = spark.createDataFrame(
        [(
            "{2021-01-15,NULL,1999-12-31}",
            '{"2021-01-15 10:00:00","2021-01-15 11:30:00"}',
            '{"2021-01-15 10:00:00+00",NULL}',
            "{123e4567-e89b-12d3-a456-426614174000}",
        )],
        "d string, ts string, tz string, u string",
    )
    r = df.select(
        pg_typed_value(F.col("d"), 1182).alias("d"),
        pg_typed_value(F.col("ts"), 1115).alias("ts"),
        pg_typed_value(F.col("tz"), 1185).alias("tz"),
        pg_typed_value(F.col("u"), 2951).alias("u"),
    ).collect()[0]
    assert [str(x) for x in r["d"][::2]] == ["2021-01-15", "1999-12-31"]
    assert r["d"][1] is None
    assert [str(x) for x in r["ts"]] == [
        "2021-01-15 10:00:00", "2021-01-15 11:30:00",
    ]
    assert r["tz"][1] is None and r["tz"][0] is not None
    assert r["u"] == ["123e4567-e89b-12d3-a456-426614174000"]


def test_pg_array_three_dimensional_in_2d_column_raises(spark):
    """A 3-D value (nested element inside the inner array) in a column
    declared 2-D must raise like the 1-D dimension-mismatch guard, not
    silently split sub-arrays on commas."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_array_value

    df = spark.createDataFrame([('{{{1,2},{3}},{{4}}}',)], "s string")
    with _pytest.raises(Exception, match="declared 2-D"):
        df.select(
            pg_array_value(F.col("s"), "int", ndims=2).alias("a")
        ).collect()


def test_pg_range_and_hstore_values(spark):
    """Range OIDs pass through as validated range text; hstore parses to
    map (keys ordered as in the text, NULL vs "NULL") and renders the
    reference's JSON shape in json mode (PostgresValueConverter.java:
    252-259, 436-445, 721-726)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import (
        pg_hstore_value,
        pg_typed_value,
    )

    df = spark.createDataFrame(
        [("[1,5)",), ("empty",), ('["a,b","c")',), (None,)], "s string"
    )
    got = [r["v"] for r in df.select(
        pg_typed_value(F.col("s"), 3904).alias("v")
    ).collect()]
    assert got == ["[1,5)", "empty", '["a,b","c")', None]

    bad = spark.createDataFrame([("not a range",)], "s string")
    with _pytest.raises(Exception, match="malformed range text"):
        bad.select(pg_typed_value(F.col("s"), 3908).alias("v")).collect()

    hs = spark.createDataFrame(
        [('"k 1"=>"v,1", "nil"=>NULL, "esc\\"q"=>"a\\\\b"',), ("",)],
        "s string",
    )
    rows = hs.select(
        pg_hstore_value(F.col("s"), "map").alias("m"),
        pg_hstore_value(F.col("s"), "json").alias("j"),
    ).collect()
    assert rows[0]["m"] == {"k 1": "v,1", "nil": None, 'esc"q': "a\\b"}
    assert rows[0]["j"] == '{"k 1":"v,1","nil":null,"esc\\"q":"a\\\\b"}'
    assert rows[1]["m"] == {} and rows[1]["j"] == "{}"

    with _pytest.raises(ValueError, match="hstore mode"):
        pg_hstore_value(F.col("s"), "xml")


def test_pg_range_array_through_tokenizer(spark):
    """Range arrays decode through the quote-aware tokenizer — every
    element is quoted because range text always carries a comma
    (PostgresValueConverter.java:300-303 arrays of strings)."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    df = spark.createDataFrame(
        [('{"[2020-01-01,2020-02-01)","(,3)",NULL}',)], "s string"
    )
    out = df.select(pg_typed_value(F.col("s"), 3913).alias("a")).collect()
    assert out[0]["a"] == ["[2020-01-01,2020-02-01)", "(,3)", None]


def test_pgvector_and_ltree_values(spark):
    """vector/halfvec '[x,y]' -> float arrays, sparsevec '{i:v}/d' -> the
    SparseDoubleVector struct (empty '{}/n' included), malformed vector
    text -> NULL (the reference WARNS and nulls, Vectors.java:28-31);
    ltree validates its dotted-label envelope."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import (
        pg_sparsevec_value,
        pg_typed_value,
        pg_vector_value,
    )

    df = spark.createDataFrame(
        [("[1.5, 2,3]",), ("not a vector",), (None,)], "s string"
    )
    got = [r["v"] for r in df.select(
        pg_vector_value(F.col("s"), "double").alias("v")).collect()]
    assert got == [[1.5, 2.0, 3.0], None, None]

    sv = spark.createDataFrame(
        [("{1:1.5,4:2}/6",), ("{}/3",), ("oops",)], "s string"
    )
    rows = [r["v"] for r in sv.select(
        pg_sparsevec_value(F.col("s")).alias("v")).collect()]
    assert rows[0]["dimensions"] == 6
    assert list(rows[0]["indices"]) == [1, 4]
    assert list(rows[0]["values"]) == [1.5, 2.0]
    assert rows[1]["dimensions"] == 3 and list(rows[1]["indices"]) == []
    assert rows[2] is None

    lt = spark.createDataFrame([("Top.Science.astro_1",)], "s string")
    assert lt.select(
        pg_typed_value(F.col("s"), 99, ext_oids={99: "ltree"}).alias("v")
    ).collect()[0]["v"] == "Top.Science.astro_1"
    bad = spark.createDataFrame([("a..b",)], "s string")
    with _pytest.raises(Exception, match="malformed ltree"):
        bad.select(
            pg_typed_value(F.col("s"), 99, ext_oids={99: "ltree"}).alias("v")
        ).collect()


def test_pg_hstore_array(spark):
    """hstore[] decodes element-wise: array_out quotes every element
    (hstore text always carries '\"' and ','), unquote-then-parse, with
    NULL elements surviving (PostgresValueConverter.java:377-378)."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    df = spark.createDataFrame(
        [('{"\\"a\\"=>\\"1\\", \\"b\\"=>NULL",NULL,"\\"c d\\"=>\\"x,y\\""}',)],
        "s string",
    )
    out = df.select(
        pg_typed_value(F.col("s"), 98, ext_oids={98: "hstore_array"})
        .alias("a")
    ).collect()[0]["a"]
    assert out[0] == {"a": "1", "b": None}
    assert out[1] is None
    assert out[2] == {"c d": "x,y"}


def test_pg_hstore_array_json_mode(spark):
    """hstore[] follows the configured mode like the scalar arm: json
    mode yields an array of JSON object strings (hstoreSchema builds the
    array element from the mode, PostgresValueConverter.java:436-445)."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    df = spark.createDataFrame(
        [('{"\\"a\\"=>\\"1\\"",NULL}',)], "s string"
    )
    out = df.select(
        pg_typed_value(F.col("s"), 98, ext_oids={98: "hstore_array"},
                       hstore_mode="json").alias("a")
    ).collect()[0]["a"]
    assert out[0] == '{"a":"1"}' and out[1] is None


def test_pg_timetz_values(spark):
    """TIMETZ -> ZonedTime ISO at UTC: fraction trailing-zero strip
    ('.5', not '.500000'), second-bearing offsets, midnight wrap in both
    directions, every boundary spelling pinned to '24:00:00Z'
    (PostgresValueConverter.java:1108-1128, PostgresTimeBoundary.java)."""
    import pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    cases = [
        ("10:15:30+01", "09:15:30Z"),
        ("10:15:30.500000+00", "10:15:30.5Z"),
        ("10:15:30.123000-01:30", "11:45:30.123Z"),
        ("00:10:00+02", "22:10:00Z"),          # wraps backwards
        ("23:59:59.999999-00:00:30", "00:00:29.999999Z"),  # offset seconds
        ("24:00:00+00", "24:00:00Z"),
        ("24:00:00.000000Z", "24:00:00Z"),
        ("24:00:00-0000", "24:00:00Z"),
        (None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [
        r["t"]
        for r in df.select(
            pg_typed_value(F.col("s"), 1266).alias("t")
        ).collect()
    ]
    assert got == [e for _, e in cases]

    bad = spark.createDataFrame([("25:00:00+01",)], "s string")
    with pytest.raises(Exception, match="malformed timetz"):
        bad.select(pg_typed_value(F.col("s"), 1266).alias("t")).collect()


def test_pg_bits_values(spark):
    """Bits bytes are content-sized little-endian: a 68-bit string needs
    the chunked conv path (past any 64-bit ceiling), b'101' in a wide
    VARBIT ships one byte, all-zeros ship zero bytes, BIT(1) is boolean,
    and TIMETZ/BIT/VARBIT arrays raise the reference's unimplemented
    contract (PostgresValueConverter.java:324-347,899-948)."""
    import pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_bits_value, pg_typed_value

    # 68 bits: 4 ones, then 64 zeros -> int = 0b1111 << 64
    wide = "1111" + "0" * 64
    cases = [
        ("101", "05"),
        ("00000000", ""),
        ("0000000101", "05"),            # leading zeros don't add bytes
        ("1000000001", "0102"),          # two little-endian bytes
        (wide, "00000000000000000f"),    # bit 64..67 -> 9th byte 0x0f
        (None, None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [
        r["h"]
        for r in df.select(
            F.lower(F.hex(pg_bits_value(F.col("s"), 33))).alias("h")
        ).collect()
    ]
    assert got == [e for _, e in cases]

    b1 = spark.createDataFrame([("1",), ("0",)], "s string")
    assert [
        r["b"] for r in b1.select(
            pg_typed_value(F.col("s"), 1560, atttypmod=1).alias("b")
        ).collect()
    ] == [True, False]

    with pytest.raises(ValueError, match="unimplemented"):
        pg_typed_value(F.col("s"), 1563)  # varbit[]
    with pytest.raises(ValueError, match="unimplemented"):
        pg_typed_value(F.col("s"), 1017)  # point[] (DBZ-459 fallback)

    bad = spark.createDataFrame([("10a01",)], "s string")
    with pytest.raises(Exception, match="malformed bit-string"):
        bad.select(pg_bits_value(F.col("s"), 5).alias("b")).collect()


def test_pg_ewkb_geometry_array(spark):
    """geometry[]: unquoted hex EWKB elements decode per-element into
    the struct, NULL elements stay NULL, and the unparseable-cell
    fallback is GEOMETRYCOLLECTION EMPTY with NULL srid
    (PostgresValueConverter.java:359-360,1258-1281)."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    pt = "0101000020E6100000" + "11" + "00" * 7 + "22" + "00" * 7
    df = spark.createDataFrame(
        [("{" + pt + ",NULL}",)], "s string"
    )
    out = df.select(
        pg_typed_value(F.col("s"), 99, ext_oids={99: "geometry_array"})
        .alias("a")
    ).collect()[0]["a"]
    assert out[0]["srid"] == 4326
    assert bytes(out[0]["wkb"]).hex() == pt.lower()
    assert out[1] is None

    bad = spark.createDataFrame([("nope",)], "s string")
    row = bad.select(
        pg_typed_value(F.col("s"), 99, ext_oids={99: "geometry"}).alias("g")
    ).collect()[0]["g"]
    assert bytes(row["wkb"]).hex() == "010700000000000000"
    assert row["srid"] is None


def test_pg_array_tail_oids(spark):
    """The last implemented array arms (PostgresValueConverter.java:
    286-337,540-566): timetz[] -> ZonedTime strings at UTC, time[] ->
    µs-since-midnight int64s, bytea[] -> bytes from quoted '\\x…' hex,
    macaddr8[]/inet[]/oid[]/json[] element forms, and the macaddr8
    scalar; money[]/interval[]/point[] raise the reference's DBZ-459
    unimplemented contract."""
    import pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    def one(oid, text):
        df = spark.createDataFrame([(text,)], "s string")
        return df.select(
            pg_typed_value(F.col("s"), oid).alias("v")
        ).collect()[0]["v"]

    assert one(1270, "{10:15:30+01,NULL,24:00:00+00}") == [
        "09:15:30Z", None, "24:00:00Z"]
    assert one(1183, "{00:00:01.5,NULL}") == [1_500_000, None]
    by = one(1001, '{"\\\\x6869",NULL}')
    assert bytes(by[0]) == b"hi" and by[1] is None
    assert one(774, "01:02:03:04:05:06:07:08") == "01:02:03:04:05:06:07:08"
    assert one(775, "{01:02:03:04:05:06:07:08}") == [
        "01:02:03:04:05:06:07:08"]
    assert one(1041, '{192.168.0.1/24,"::1"}') == ["192.168.0.1/24", "::1"]
    assert one(1028, "{1,2,NULL}") == [1, 2, None]
    assert one(199, '{"{\\"a\\": 1}",NULL}') == ['{"a": 1}', None]
    # tsvector -> TsVector logical type's string form (:283,511)
    assert one(3614, "'a':1 'b c':2,3") == "'a':1 'b c':2,3"
    with pytest.raises(Exception, match="malformed"):
        one(774, "01:02:03:04:05:06")  # 6 pairs is macaddr, not macaddr8
    for oid in (791, 1187, 1017, 143, 1003, 1561):
        with pytest.raises(ValueError, match="unimplemented"):
            pg_typed_value(F.col("s"), oid)


def test_pg_timetz_structured_mode(spark):
    """STRUCTURED TIMETZ preserves the raw hour (incl. the boundary 24)
    and the ORIGINAL offset with no UTC shift
    (convertTimeWithZoneToStructuredPreservingOffset:1131-1160,
    StructuredZonedTime.java); unparseable text degrades to the
    all-zero fallback struct like the reference's warn path."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    cases = ["10:15:30.5-03:30", "24:00:00+00", "garbage", None]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    out = [
        r["t"] for r in df.select(
            pg_typed_value(F.col("s"), 1266, timetz_mode="structured")
            .alias("t")
        ).collect()
    ]
    assert out[0].asDict() == {
        "hour": 10, "minute": 15, "second": 30,
        "nanos": 500_000_000, "offset_seconds": -12_600, "precision": -1,
    }
    assert out[1]["hour"] == 24 and out[1]["offset_seconds"] == 0
    assert out[2].asDict() == {
        "hour": 0, "minute": 0, "second": 0, "nanos": 0,
        "offset_seconds": 0, "precision": -1,
    }
    assert out[3] is None

    import pytest
    with pytest.raises(ValueError, match="timetz_mode"):
        pg_typed_value(F.col("s"), 1266, timetz_mode="nope")


def test_pg_time_is_session_timezone_proof(spark):
    """r13 review: TIME (scalar + array) must be pure integer
    arithmetic — the old to_timestamp formulation anchored to the
    SESSION timezone's epoch day and shifted every value under a
    non-UTC driver session; out-of-range minutes now raise in both TIME
    and string-mode TIMETZ."""
    import pytest
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame([("12:00:00.25",)], "s string")
        got = df.select(
            pg_typed_value(F.col("s"), 1083).alias("t")
        ).collect()[0]["t"]
        assert got == 43_200_250_000  # µs since midnight, tz-free
        arr = spark.createDataFrame([("{12:00:00.25,NULL}",)], "s string")
        got_a = arr.select(
            pg_typed_value(F.col("s"), 1183).alias("t")
        ).collect()[0]["t"]
        assert got_a == [43_200_250_000, None]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    bad = spark.createDataFrame([("10:99:30+00",)], "s string")
    with pytest.raises(Exception, match="malformed timetz"):
        bad.select(pg_typed_value(F.col("s"), 1266).alias("t")).collect()
    badt = spark.createDataFrame([("10:99:30",)], "s string")
    with pytest.raises(Exception, match="malformed time"):
        badt.select(pg_typed_value(F.col("s"), 1083).alias("t")).collect()


# ---------------------------------------------------------------------------
# r13 optimization round: the vectorized I/U/D decode fast path must be
# bit-identical to the per-row parse_message path, and every protocol
# violation must still surface through the row path's exact errors.
# ---------------------------------------------------------------------------
def _fastpath_fixture_msgs():
    from debezium_spark.sources.pgoutput import (
        encode_delete,
        encode_insert,
        encode_update,
    )

    msgs = []
    for e in range(400):
        r = e % 7
        if r == 1:  # update with old KEY image, toast 'u' cells
            after = [("t", str(e)), ("t", f"s_{e}"),
                     ("u", None) if e % 5 == 0 else ("t", f"n_{e}")]
            key = [("t", str(e)), ("n", None), ("n", None)]
            msgs.append(encode_update(16385, after, key, "K"))
        elif r == 2:  # delete with key image
            msgs.append(encode_delete(16385, [("t", str(e)), ("n", None)],
                                      "K"))
        elif r == 3:  # update with full OLD row, unicode + empty string
            msgs.append(encode_update(
                99, [("t", f"ünïcødé-{e}"), ("t", "")],
                [("t", str(e)), ("u", None)], "O"))
        elif r == 4:  # update with NO old image
            msgs.append(encode_update(7, [("t", str(e))], None, None))
        elif r == 5:  # delete with full old row
            msgs.append(encode_delete(123, [("t", 'x"y\'z'), ("n", None)],
                                      "O"))
        elif r == 6:  # zero-column insert
            msgs.append(encode_insert(5, []))
        else:
            msgs.append(encode_insert(16385, [("t", str(e)), ("n", None)]))
    return msgs


def test_vectorized_decode_matches_row_path():
    import numpy as np
    import pyarrow as pa

    from debezium_spark.sources.pgoutput import (
        _decode_data_vectorized,
        _frame_batch_rowpath,
    )

    msgs = _fastpath_fixture_msgs()
    lsn = pa.array(np.arange(len(msgs), dtype=np.int64))
    fast = _decode_data_vectorized(lsn, pa.array(msgs, type=pa.binary()))
    slow = _frame_batch_rowpath(range(len(msgs)), msgs,
                                [False] * len(msgs))
    assert fast.schema.equals(slow.schema)
    assert fast.to_pylist() == slow.to_pylist()


def test_vectorized_decode_rejects_protocol_violations():
    import numpy as np
    import pyarrow as pa
    import pytest

    from debezium_spark.sources.pgoutput import _decode_data_vectorized

    def one(msg):
        return _decode_data_vectorized(
            pa.array(np.zeros(1, dtype=np.int64)),
            pa.array([msg], type=pa.binary()),
        )

    import struct

    # INSERT whose tuple marker is not 'N'
    bad_marker = b"I" + struct.pack(">i", 5) + b"K" + struct.pack(">h", 0)
    with pytest.raises(ValueError):
        one(bad_marker)
    # unsupported cell kind 'b'
    bad_cell = b"I" + struct.pack(">i", 5) + b"N" + struct.pack(">h", 1) \
        + b"b"
    with pytest.raises(ValueError):
        one(bad_cell)
    # a non-data message in the batch
    with pytest.raises(ValueError):
        one(b"B" + b"\x00" * 20)
    # truncated value length walks off the buffer
    trunc = b"I" + struct.pack(">i", 5) + b"N" + struct.pack(">h", 1) \
        + b"t" + struct.pack(">i", 99) + b"ab"
    with pytest.raises(Exception):
        one(trunc)


def test_decode_frames_spark_fast_and_fallback(spark):
    """End-to-end through mapInArrow: a pure data batch (fast path) and a
    mixed control+v2 batch (row-path fallback) both decode correctly."""
    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import (
        decode_frames,
        encode_begin,
        encode_insert,
    )

    msgs = _fastpath_fixture_msgs()
    df = spark.createDataFrame(
        [(i, bytearray(m)) for i, m in enumerate(msgs)],
        "lsn long, msg binary",
    )
    out = decode_frames(df).collect()
    assert len(out) == len(msgs)
    ins = [r for r in out if r["kind"] == "insert"]
    assert ins and all(r["after"] is not None for r in ins)
    dels = [r for r in out if r["kind"] == "delete"]
    assert dels and all(
        r["after"] is None and r["before_kind"] in ("K", "O") for r in dels
    )

    mixed = spark.createDataFrame(
        [
            (1, bytearray(encode_begin(9, 7_000_000, 42))),
            (2, bytearray(encode_insert(5, [("t", "1")]))),
        ],
        "lsn long, msg binary",
    )
    rows = {r["kind"]: r for r in decode_frames(mixed).collect()}
    assert rows["begin"]["xid"] == 42
    assert rows["insert"]["after"][0]["v"] == "1"


def test_pg_timetz_positional_parse_parity(spark):
    """r14: the timetz/time arms parse positionally (one validation
    rlike + char-class splits) instead of one regexp_extract per group.
    Dense-domain parity against an independent Python reference
    (datetime arithmetic): every (hour, minute, second, fraction,
    offset-shape) combination over a stratified sweep must match, for
    the string mode, the structured mode, and the TIME µs arm."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    from debezium_spark.sources.pgoutput import pg_typed_value

    cases = []
    fracs = ["", ".5", ".25", ".999999", ".000001", ".120000"]
    offs = ["+00", "-05", "+01:30", "-11:45", "+02:00:30", "-00:00:01",
            "+23", "-23:59:59"]
    i = 0
    for h in range(24):
        for m in (0, 1, 9, 30, 59):
            for s in (0, 5, 59):
                f = fracs[i % len(fracs)]
                off = offs[i % len(offs)]
                i += 1
                cases.append((f"{h:02d}:{m:02d}:{s:02d}{f}{off}",))
    # single-digit hours (the pattern is \d{1,2}) and boundary spellings
    cases += [(f"{h}:30:15.75+0{h % 10}",) for h in range(10)]
    cases += [("24:00:00+00",), ("24:00:00.000000Z",), ("24:00:00-0000",),
              (None,)]

    import re

    def py_ref(txt):
        if txt is None:
            return None
        if txt.startswith("24:00:00"):
            return "24:00:00Z"
        mt = re.match(
            r"^(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?"
            r"([+-])(\d{2})(?::(\d{2}))?(?::(\d{2}))?$", txt)
        assert mt, txt
        hh, mm, ss = int(mt[1]), int(mt[2]), int(mt[3])
        frac_us = int((mt[4] or "").ljust(6, "0")) if mt[4] else 0
        osec = (int(mt[6]) * 3600 + int(mt[7] or 0) * 60
                + int(mt[8] or 0)) * (-1 if mt[5] == "-" else 1)
        total = (hh * 3600 + mm * 60 + ss - osec) % 86400
        us = total * 1_000_000 + frac_us
        out = "%02d:%02d:%02d" % (us // 3_600_000_000,
                                  us % 3_600_000_000 // 60_000_000,
                                  us % 60_000_000 // 1_000_000)
        fr = ("%06d" % (us % 1_000_000)).rstrip("0")
        return out + ("." + fr if fr else "") + "Z"

    # normalize the 1-digit-hour spellings for the reference
    expect = []
    for (c,) in cases:
        if c is not None and c[1] == ":":  # '5:30:15...' 1-digit hour
            expect.append(py_ref("0" + c))
        else:
            expect.append(py_ref(c))
    df = spark.createDataFrame(cases, "s string").coalesce(2)
    got = [r["t"] for r in df.select(
        pg_typed_value(F.col("s"), 1266).alias("t")).collect()]
    assert got == expect

    # structured mode: raw components, original offset, no UTC shift
    st = [r["t"] for r in df.select(
        pg_typed_value(F.col("s"), 1266, timetz_mode="structured")
        .alias("t")).collect()]
    pat = re.compile(
        r"^(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?"
        r"([+-])(\d{2})(?::(\d{2}))?(?::(\d{2}))?$")
    for (c,), row in zip(cases, st):
        if c is None:
            assert row is None
            continue
        mt = pat.match(c)
        if mt is None:
            # boundary spellings outside the shared pattern -> fallback 0s
            assert row["hour"] == 0 and row["offset_seconds"] == 0, c
            continue
        nan = int(mt[4].ljust(9, "0")) if mt[4] else 0
        osec = (int(mt[6]) * 3600 + int(mt[7] or 0) * 60
                + int(mt[8] or 0)) * (-1 if mt[5] == "-" else 1)
        assert (row["hour"], row["minute"], row["second"]) == (
            int(mt[1]), int(mt[2]), int(mt[3])), c
        assert row["nanos"] == nan and row["offset_seconds"] == osec, c

    # TIME arm: µs since midnight over the same clock domain
    tcases = [(f"{h:02d}:{mm:02d}:{ss:02d}{f}",)
              for h in range(0, 24, 3)
              for mm in (0, 59) for ss in (0, 30)
              for f in ("", ".5", ".000123")]
    tdf = spark.createDataFrame(tcases, "s string").coalesce(2)
    tgot = [r["t"] for r in tdf.select(
        pg_typed_value(F.col("s"), 1083).alias("t")).collect()]
    texp = []
    for (c,) in tcases:
        hh, mm, rest = c.split(":")
        ss = int(rest[:2])
        frac = int(rest[3:].ljust(6, "0")) if "." in rest else 0
        texp.append((int(hh) * 3600 + int(mm) * 60 + ss) * 1_000_000
                    + frac)
    assert tgot == texp


# ---------------------------------------------------------------------------
# Micro-batch decode shape: one control-plane collect + one data kernel
# ---------------------------------------------------------------------------
def _ref_cells(side, cells, names):
    """One side of a reference envelope, named positionally."""
    out = {side: None, f"{side}_nulls": None}
    if side == "after":
        out["after_toasted"] = None
    if cells is None:
        return out
    named = list(zip(names, cells))
    out[side] = {n: v for n, (k, v) in named if k == "t"}
    out[f"{side}_nulls"] = [n for n, (k, _) in named if k == "n"]
    if side == "after":
        out["after_toasted"] = [n for n, (k, _) in named if k == "u"]
    return out


def _ref_fold(msgs):
    """Row-by-row reference decoder: walks the messages in LSN order the
    way PgOutputMessageDecoder does, holding the relation cache, the open
    BEGIN and the stream segment in memory and parsing every message with
    ``parse_message``. Returns the data envelopes in emission order (a
    streamed tx emits at its Stream Commit)."""
    rels, tx, seg, pending, out = {}, None, None, {}, []
    for lsn, raw in sorted(msgs, key=lambda t: t[0]):
        m = parse_message(raw, in_stream=seg is not None)
        k = m["kind"]
        if k == "relation":
            rels[m["relation_id"]] = m
        elif k == "begin":
            tx = (m["xid"], m["commit_ts_us"])
        elif k == "commit":
            tx = None
        elif k == "stream_start":
            seg = m["xid"]
        elif k == "stream_stop":
            seg = None
        elif k == "stream_commit":
            out += [
                dict(r, xid=m["xid"], commit_ts_us=m["commit_ts_us"])
                for r in pending.pop(m["xid"], [])
            ]
        elif k == "stream_abort":
            assert m["subtransaction_xid"] == m["xid"]
            pending.pop(m["xid"], None)
        elif k in ("insert", "update", "delete"):
            rel = rels[m["relation_id"]]
            names = [c["name"] for c in rel["columns"]]
            row = {
                "lsn": lsn,
                "op": {"insert": "c", "update": "u", "delete": "d"}[k],
                "schema": rel["schema"],
                "table": rel["table"],
                "before_kind": m.get("before_kind"),
                **_ref_cells("before", m.get("before"), names),
                **_ref_cells("after", m.get("after"), names),
            }
            if "stream_xid" in m:
                pending.setdefault(m["stream_xid"], []).append(row)
            else:
                out.append(dict(
                    row,
                    xid=tx[0] if tx else None,
                    commit_ts_us=tx[1] if tx else None,
                ))
    return out


def _rows_by_lsn(rows):
    return sorted((r.asDict() for r in rows), key=lambda d: d["lsn"])


def _frame(spark, rows):
    return spark.createDataFrame(
        [(lsn, bytearray(m)) for lsn, m in rows], "lsn long, msg binary"
    )


def _over_routes(monkeypatch):
    """Yield each ``PgOutputStreamDecoder`` route with that route forced:
    ``inline`` (the driver-side Arrow collect) as configured, then
    ``distributed`` (control collect plus ``mapInArrow``) by an inline
    bound of 0 messages. A loop, not a parametrization, so each test
    keeps its one id."""
    from debezium_spark.sources import pgoutput

    for route, bound in (("inline", None), ("distributed", 0)):
        with monkeypatch.context() as m:
            if bound is not None:
                m.setattr(pgoutput, "_INLINE_MAX_MESSAGES", bound)
            yield route


def _assert_route(dec, route):
    """Every batch ``dec`` decoded took ``route``."""
    assert dec.routes
    if route == "inline":
        assert set(dec.routes) == {"inline"}, dec.routes
    else:
        assert set(dec.routes) <= {"over_bound", "pending_distributed"}, \
            dec.routes


def test_micro_batch_decode_matches_row_fold(spark, monkeypatch):
    """Both decode APIs agree with the row-by-row reference fold on a
    batch of several transactions over two relations, with a RELATION
    re-sent mid-batch with an added column (rows on each side of its LSN
    get their own names) and a data row outside every BEGIN interval
    (NULL xid)."""
    from debezium_spark.sources.pgoutput import (
        PgOutputStreamDecoder,
        relation_registry,
    )

    v1 = [(1, "id", 20, -1), (0, "v", 25, -1)]
    v2 = v1 + [(0, "w", 23, -1)]
    msgs = [
        (0, encode_relation(9, "public", "t", v1)),
        (1, encode_begin(3, 1_000_000, 100)),
        (2, encode_insert(9, [("t", "1"), ("t", "a")])),
        (3, encode_commit(3, 3, 1_000_000)),
        (4, encode_insert(9, [("t", "2"), ("n", None)])),  # no BEGIN
        (5, encode_begin(9, 2_000_000, 101)),
        (6, encode_update(9, [("t", "1"), ("u", None)],
                          before=[("t", "1"), ("n", None)])),
        (7, encode_relation(9, "public", "t", v2)),
        (8, encode_insert(9, [("t", "3"), ("n", None), ("t", "7")])),
        (9, encode_commit(9, 9, 2_000_000)),
        (10, encode_relation(10, "app", "u", [(1, "k", 25, -1)])),
        (11, encode_begin(14, 3_000_000, 102)),
        (12, encode_delete(9, [("t", "3"), ("n", None), ("n", None)])),
        (13, encode_insert(10, [("t", "x")])),
        (14, encode_commit(14, 14, 3_000_000)),
    ]
    want = sorted(_ref_fold(msgs), key=lambda d: d["lsn"])
    assert [r["xid"] for r in want] == [100, None, 101, 101, 102, 102]
    df = _frame(spark, msgs)
    assert _rows_by_lsn(decode_pgoutput_binary(spark, df).collect()) == want
    reg = relation_registry(spark, df)
    assert _rows_by_lsn(
        decode_pgoutput_binary(spark, df, registry=reg).collect()
    ) == want
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        assert _rows_by_lsn(dec.decode_batch(df).collect()) == want
        _assert_route(dec, route)


def test_overlapping_begin_intervals_raise(spark, monkeypatch):
    """v1 transactions are serialized onto the stream, so two BEGIN
    intervals that overlap are corrupt input: the control-plane fold
    raises instead of stamping a row with two transactions."""
    msgs = [
        (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)])),
        (1, encode_begin(5, 1_000_000, 100)),
        (2, encode_insert(9, [("t", "1")])),
        (3, encode_begin(6, 2_000_000, 101)),  # inside tx 100's interval
        (4, encode_insert(9, [("t", "2")])),
        (6, encode_commit(6, 6, 2_000_000)),
    ]
    from debezium_spark.sources.pgoutput import PgOutputStreamDecoder

    with pytest.raises(ValueError, match="overlap"):
        decode_pgoutput_binary(spark, _frame(spark, msgs))
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        with pytest.raises(ValueError, match="overlap"):
            dec.decode_batch(_frame(spark, msgs))
        _assert_route(dec, route)


def test_stream_decoder_v2_matches_row_fold_across_batches(
    spark, monkeypatch
):
    """Protocol v2 across micro-batches against the reference fold: an
    uncommitted streamed xid is withheld while its segment is open, then
    emitted exactly once in the batch whose Stream Commit arrives; a v1
    tx in the same batches decodes alongside; a later subtransaction
    abort raises."""
    from debezium_spark.sources.pgoutput import (
        PgOutputStreamDecoder,
        encode_stream_abort,
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    batches = [
        [
            (0, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                                   (0, "v", 25, -1)])),
            (1, encode_begin(3, 1_000_000, 70)),
            (2, encode_insert(9, [("t", "1"), ("t", "a")])),
            (3, encode_commit(3, 3, 1_000_000)),
            (4, encode_stream_start(60)),
            (5, with_stream_xid(encode_insert(9, [("t", "2"), ("n", None)]),
                                60)),
            # segment left OPEN at the batch boundary
        ],
        [
            (6, with_stream_xid(encode_delete(9, [("t", "1"), ("n", None)]),
                                60)),
            (7, encode_stream_stop()),
            (8, encode_begin(10, 2_000_000, 71)),
            (9, encode_insert(9, [("t", "3"), ("u", None)])),
            (10, encode_commit(10, 10, 2_000_000)),
            (11, encode_stream_commit(60, 11, 11, 5_000_000)),
        ],
    ]
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        seen: list = []
        emitted = 0
        for batch in batches:
            seen += batch
            ref = _ref_fold(seen)
            want = sorted(ref[emitted:], key=lambda d: d["lsn"])
            emitted = len(ref)
            assert _rows_by_lsn(dec.decode_batch(_frame(spark, batch)).collect()) \
                == want
        assert emitted == 4 and dec._pending is None
        _assert_route(dec, route)
        with pytest.raises(ValueError, match="subtransaction"):
            dec.decode_batch(_frame(spark, [
                (12, encode_stream_start(61)),
                (13, with_stream_xid(encode_insert(9, [("t", "4"), ("n", None)]),
                                     61)),
                (14, encode_stream_stop()),
                (15, encode_stream_abort(61, 62)),
            ]))


def test_stream_decoder_job_budget(spark, tmp_path, monkeypatch):
    """Spark jobs per file-backed micro-batch, the consumer's action
    included. Inline: a v1 batch runs 2 (the raw Arrow collect and the
    consumer's), and a v2 batch that leaves a segment open runs 2 as
    well, since its pending rows stay in Arrow; the decoded batch's plan
    holds no Python-worker operator. Distributed: 2 for v1 (the control
    collect and the consumer's action, which runs the ``mapInArrow``
    kernel), and 3 for the open segment (plus the pending buffer's
    checkpoint)."""
    from debezium_spark.sources.pgoutput import (
        PgOutputStreamDecoder,
        encode_stream_start,
        with_stream_xid,
    )

    rel = (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)]))
    v1 = [
        rel,
        (1, encode_begin(3, 1_000_000, 70)),
        (2, encode_insert(9, [("t", "1")])),
        (3, encode_commit(3, 3, 1_000_000)),
    ]
    v2_open = [
        (4, encode_stream_start(60)),
        (5, with_stream_xid(encode_insert(9, [("t", "2")]), 60)),
    ]
    sc = spark.sparkContext
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        jobs, plans = [], []
        for i, rows in enumerate((v1, v2_open)):
            path = str(tmp_path / f"{route}-b{i}")
            _frame(spark, rows).coalesce(1).write.parquet(path)
            batch = spark.read.parquet(path)  # a file-backed micro-batch
            group = f"pgoutput-job-budget-{route}-{i}"
            sc.setJobGroup(group, "job budget")
            try:
                decoded = dec.decode_batch(batch)
                out = decoded.toArrow()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            plans.append(
                decoded._jdf.queryExecution().executedPlan().toString()
            )
            assert out.num_rows == (1 if i == 0 else 0)
        _assert_route(dec, route)
        if route == "inline":
            assert jobs == [2, 2]
            assert not any("MapInArrow" in p for p in plans), plans
        else:
            assert jobs == [2, 3]
            assert "MapInArrow" in plans[0]


def test_stream_decoder_v1_tx_across_micro_batches(
    spark, tmp_path, monkeypatch
):
    """A v1 transaction whose BEGIN lands in one micro-batch and whose rows
    continue into the next stamps every row with its xid and commit ts
    (the decoder carries the last BEGIN interval across batches), at the
    same one-job-per-batch budget."""
    from debezium_spark.sources.pgoutput import PgOutputStreamDecoder

    batches = [
        [
            (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)])),
            (1, encode_begin(4, 1_000_000, 70)),
            (2, encode_insert(9, [("t", "1")])),
        ],
        [
            (3, encode_insert(9, [("t", "2")])),
            (4, encode_commit(4, 4, 1_000_000)),
            (5, encode_insert(9, [("t", "3")])),  # after the commit: no tx
        ],
    ]
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        sc = spark.sparkContext
        jobs, rows = [], []
        for i, msgs in enumerate(batches):
            path = str(tmp_path / f"{route}-b{i}")
            _frame(spark, msgs).coalesce(1).write.parquet(path)
            batch = spark.read.parquet(path)  # a file-backed micro-batch
            group = f"pgoutput-v1-carry-{route}-{i}"
            sc.setJobGroup(group, "v1 carry")
            try:
                out = dec.decode_batch(batch).toArrow()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            rows += out.select(["lsn", "xid", "commit_ts_us"]).to_pylist()
        assert jobs == [2, 2]
        assert sorted((r["lsn"], r["xid"], r["commit_ts_us"]) for r in rows) == [
            (2, 70, 1_000_000), (3, 70, 1_000_000), (5, None, None),
        ]
        # replaying the second batch keeps the carried BEGIN once (no overlap)
        again = dec.decode_batch(_frame(spark, batches[1])).collect()
        assert sorted((r["lsn"], r["xid"]) for r in again) == [(3, 70), (5, None)]
        _assert_route(dec, route)


def test_stream_decoder_counts_routes(spark, monkeypatch):
    """``routes`` counts each batch's route: a three-batch v1 stream takes
    only the inline route, and with the inline bound at 0 the same stream
    takes only the over-bound decline."""
    from debezium_spark.sources import pgoutput

    rel = encode_relation(9, "public", "t", [(1, "id", 20, -1)])
    batches = [
        [(0, rel), (1, encode_begin(3, 1_000_000, 70)),
         (2, encode_insert(9, [("t", "1")])), (3, encode_commit(3, 3, 1))],
        [(4, encode_begin(6, 2_000_000, 71)),
         (5, encode_update(9, [("t", "1")])), (6, encode_commit(6, 6, 2))],
        [(7, encode_begin(9, 3_000_000, 72)),
         (8, encode_delete(9, [("t", "1")])), (9, encode_commit(9, 9, 3))],
    ]
    for bound, want in ((None, "inline"), (0, "over_bound")):
        with monkeypatch.context() as m:
            if bound is not None:
                m.setattr(pgoutput, "_INLINE_MAX_MESSAGES", bound)
            dec = pgoutput.PgOutputStreamDecoder(spark)
            ops = [
                r["op"] for b in batches
                for r in dec.decode_batch(_frame(spark, b)).collect()
            ]
        assert ops == ["c", "u", "d"]
        assert dec.routes == {want: 3}


def test_stream_decoder_v2_tx_crosses_routes(spark, monkeypatch):
    """Decoder state crosses a route switch in both directions, against
    the reference fold. Streamed tx 60 opens on the inline route (its rows
    held in Arrow), continues on an over-bound batch (the Arrow rows
    rejoin the distributed plan, which leaves a DataFrame buffer), and
    commits on a batch the DataFrame buffer keeps distributed; it emits
    exactly once. v1 tx 70 begins there and continues into the next
    batch, back on the inline route, where streamed tx 61 opens and then
    commits inline."""
    from debezium_spark.sources import pgoutput
    from debezium_spark.sources.pgoutput import (
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    def seg_insert(xid, v):
        return with_stream_xid(encode_insert(9, [("t", v), ("n", None)]), xid)

    batches = [
        (None, [
            (0, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                                   (0, "v", 25, -1)])),
            (1, encode_stream_start(60)),
            (2, seg_insert(60, "1")),
            (3, seg_insert(60, "2")),
        ]),
        (0, [
            (4, seg_insert(60, "3")),
            (5, encode_stream_stop()),
            (6, encode_begin(8, 1_000_000, 69)),
            (7, encode_insert(9, [("t", "4"), ("t", "a")])),
            (8, encode_commit(8, 8, 1_000_000)),
        ]),
        (None, [
            (9, encode_stream_start(60, first_segment=False)),
            (10, seg_insert(60, "5")),
            (11, encode_stream_stop()),
            (12, encode_stream_commit(60, 12, 12, 5_000_000)),
            (13, encode_begin(16, 2_000_000, 70)),
            (14, encode_insert(9, [("t", "6"), ("t", "b")])),
        ]),
        (None, [
            (15, encode_update(9, [("t", "6"), ("u", None)])),
            (16, encode_commit(16, 16, 2_000_000)),
            (17, encode_stream_start(61)),
            (18, seg_insert(61, "7")),
        ]),
        (None, [
            (19, seg_insert(61, "8")),
            (20, encode_stream_stop()),
            (21, encode_stream_commit(61, 21, 21, 6_000_000)),
        ]),
    ]
    dec = pgoutput.PgOutputStreamDecoder(spark)
    seen: list = []
    emitted, routes = 0, []
    for bound, batch in batches:
        seen += batch
        ref = _ref_fold(seen)
        want = sorted(ref[emitted:], key=lambda d: d["lsn"])
        emitted = len(ref)
        before = dict(dec.routes)
        with monkeypatch.context() as m:
            if bound is not None:
                m.setattr(pgoutput, "_INLINE_MAX_MESSAGES", bound)
            got = dec.decode_batch(_frame(spark, batch)).collect()
        assert _rows_by_lsn(got) == want
        (route,) = [k for k, v in dec.routes.items() if v != before.get(k)]
        routes.append(route)
    assert routes == [
        "inline", "over_bound", "pending_distributed", "inline", "inline",
    ]
    assert [r["xid"] for r in _ref_fold(seen)] == [
        69, 60, 60, 60, 60, 70, 70, 61, 61,
    ]
    assert dec._pending is None


def test_stream_decoder_malformed_data_raises_row_path_error(
    spark, monkeypatch
):
    """A malformed data message raises the error ``parse_message`` gives
    for it on both routes: on the driver (inline) or from the kernel's
    Python worker (distributed)."""
    import re

    from debezium_spark.sources.pgoutput import PgOutputStreamDecoder

    bad = encode_insert(9, [("t", "abc")])[:-2]
    with pytest.raises(Exception) as want:
        parse_message(bad)
    msgs = [
        (0, encode_relation(9, "public", "t", [(1, "id", 20, -1)])),
        (1, encode_insert(9, [("t", "1")])),
        (2, bad),
    ]
    for route in _over_routes(monkeypatch):
        dec = PgOutputStreamDecoder(spark)
        with pytest.raises(Exception, match=re.escape(str(want.value))) as got:
            dec.decode_batch(_frame(spark, msgs)).collect()
        if route == "inline":
            assert type(got.value) is type(want.value)
        _assert_route(dec, route)


def test_truncated_data_message_raises_row_path_error():
    """The vectorized kernel bounds every read by its own message: a
    truncated data message declines to the row path, which raises the
    exact error ``parse_message`` gives — even when a well-formed
    neighbour's bytes follow it in the Arrow buffer."""
    import re

    import pyarrow as pa

    from debezium_spark.sources.pgoutput import _frame_batch

    good = encode_insert(5, [("t", "abc")])
    for bad in (good[:-2], good[:12]):  # value cut short; length cut
        with pytest.raises(Exception) as want:
            parse_message(bad)
        with pytest.raises(type(want.value), match=re.escape(str(want.value))):
            _frame_batch(
                pa.array([0, 1], type=pa.int64()),
                pa.array([bad, good], type=pa.binary()),
            )


def test_vectorized_kernel_bug_surfaces(monkeypatch):
    """Only the kernel's declared decline reasons reroute to the row
    path; any other exception is a bug and surfaces."""
    import pyarrow as pa

    from debezium_spark.sources import pgoutput

    def broken(lsn_arr, msg_arr):
        raise TypeError("kernel bug")

    monkeypatch.setattr(pgoutput, "_decode_data_vectorized", broken)
    with pytest.raises(TypeError, match="kernel bug"):
        pgoutput._frame_batch(
            pa.array([0], type=pa.int64()),
            pa.array([encode_insert(5, [("t", "1")])], type=pa.binary()),
        )


# ---------------------------------------------------------------------------
# Envelope kernel: the Arrow-built maps and name lists against the JVM
# lambda projection they replaced
# ---------------------------------------------------------------------------
#: ``_name_and_stamp``'s output: the projection's input
_NAMED_SCHEMA = (
    "lsn long, kind string, schema string, table string,"
    " col_names array<string>, before_kind string,"
    " before array<struct<k:string, v:string>>,"
    " after array<struct<k:string, v:string>>,"
    " xid long, commit_ts_us long"
)


def _envelope_select_reference(named):
    """The JVM-side envelope projection the data kernel used to end in:
    ``zip_with`` pairs each positional cell with its column name, then
    ``filter`` + ``transform`` + ``map_from_entries`` build the text map
    and ``filter`` + ``transform`` the 'n'/'u' name lists. The parity
    reference of ``_envelope_batch``."""
    from pyspark.sql import functions as F

    def with_names(cells):
        return F.zip_with(
            F.col("col_names"),
            cells,
            lambda n, c: F.struct(
                n.alias("name"), c["k"].alias("k"), c["v"].alias("v")
            ),
        )

    def text_map(named_cells):
        return F.map_from_entries(
            F.transform(
                F.filter(named_cells, lambda x: x["k"] == "t"),
                lambda x: F.struct(
                    x["name"].alias("key"), x["v"].alias("value")
                ),
            )
        )

    def names_where(named_cells, kind):
        return F.transform(
            F.filter(named_cells, lambda x: x["k"] == kind),
            lambda x: x["name"],
        )

    b = with_names(F.col("before"))
    a = with_names(F.col("after"))
    op = (
        F.when(F.col("kind") == "insert", F.lit("c"))
        .when(F.col("kind") == "update", F.lit("u"))
        .otherwise(F.lit("d"))
    )
    has_b, has_a = F.col("before").isNotNull(), F.col("after").isNotNull()
    return named.select(
        "lsn", op.alias("op"), "schema", "table", "xid", "commit_ts_us",
        "before_kind",
        F.when(has_b, text_map(b)).alias("before"),
        F.when(has_b, names_where(b, "n")).alias("before_nulls"),
        F.when(has_a, text_map(a)).alias("after"),
        F.when(has_a, names_where(a, "n")).alias("after_nulls"),
        F.when(has_a, names_where(a, "u")).alias("after_toasted"),
    )


def _named_batch(msgs, flags=None, relations=(), open_at_start=False):
    """One micro-batch of ``(lsn, message)`` decoded the way the data
    kernel does up to naming and stamping (control fold, ``_frame_batch``,
    ``_name_and_stamp``); ``flags`` marks protocol-v2 in-segment messages,
    ``relations`` are RELATIONs parsed in earlier batches. Returns the
    named batch and the control plane."""
    import pyarrow as pa

    from debezium_spark.sources.pgoutput import (
        _ControlPlane,
        _frame_batch,
        _name_and_stamp,
        _name_index,
        _registry_rows,
        _version_rows,
    )

    flags = list(flags or [False] * len(msgs))
    rows = [(lsn, m, f) for (lsn, m), f in zip(msgs, flags)]
    ctl = _ControlPlane(
        [r for r in rows if r[1][:1] in (b"R", b"B", b"S", b"E", b"c", b"A")],
        open_at_start=open_at_start,
        flagged=True,
    )
    data = [r for r in rows if r[1][:1] in (b"I", b"U", b"D")]
    frame = _frame_batch(
        pa.array([r[0] for r in data], type=pa.int64()),
        pa.array([r[1] for r in data], type=pa.binary()),
        pa.array([r[2] for r in data]) if any(flags) else None,
    )
    names = _name_index(
        _version_rows(_registry_rows([*relations, *ctl.relations]))
    )
    return _name_and_stamp(frame, names, ctl.begins, ctl.commits), ctl


def _kernel_and_reference(spark, named):
    """The same named rows through ``_envelope_batch`` (a mapInArrow with
    the kernel's output schema) and through the lambda projection."""
    import pyarrow as pa

    from debezium_spark.sources.pgoutput import (
        _ENVELOPE_SCHEMA,
        _envelope_batch,
    )

    df = spark.createDataFrame(
        pa.Table.from_batches([named]), schema=_NAMED_SCHEMA
    )

    def run(batches):
        for b in batches:
            yield _envelope_batch(b)

    return (
        df.mapInArrow(run, _ENVELOPE_SCHEMA),
        _envelope_select_reference(df),
    )


def test_envelope_kernel_matches_lambda_projection(spark):
    """The kernel's envelope equals the lambda projection's, schema and
    nullability included, on: an unknown relation (NULL names); NULL
    ``before``; 'n' and 'u' cells; DELETE with 'K' and 'O' images; UPDATE
    with and without an old tuple; a zero-column tuple; multibyte and
    non-BMP text; repeated column names among non-'t' cells; and v2 rows
    withheld in one batch, emitted in the next."""
    from debezium_spark.sources.pgoutput import (
        encode_stream_commit,
        encode_stream_start,
        encode_stream_stop,
        with_stream_xid,
    )

    cols3 = [(1, "id", 20, -1), (0, "v", 25, -1), (0, "w", 25, -1)]
    v1 = [
        (0, encode_relation(9, "public", "t", cols3)),
        (1, encode_relation(5, "public", "empty", [])),
        (2, encode_relation(11, "public", "dup",
                            [(1, "a", 25, -1), (0, "a", 25, -1)])),
        (3, encode_begin(20, 1_000_000, 100)),
        (4, encode_insert(9, [("t", "1"), ("t", "ünïcødé ✓"),
                              ("t", "𝄞 😀")])),
        (5, encode_insert(9, [("t", "2"), ("n", None), ("t", "")])),
        (6, encode_update(9, [("t", "1"), ("u", None), ("n", None)],
                          before=[("t", "1"), ("n", None), ("n", None)],
                          before_kind="K")),
        (7, encode_update(9, [("t", "2"), ("t", "x"), ("u", None)],
                          before=[("t", "2"), ("t", "é"), ("t", "y")],
                          before_kind="O")),
        (8, encode_update(9, [("t", "3"), ("t", "z"), ("t", "w")])),
        (9, encode_delete(9, [("t", "1"), ("n", None), ("n", None)], "K")),
        (10, encode_delete(9, [("t", "2"), ("t", "x"), ("u", None)], "O")),
        (11, encode_insert(5, [])),
        (12, encode_delete(5, [], "O")),
        (13, encode_insert(77, [("t", "orphan")])),  # no RELATION: no names
        (14, encode_update(77, [("t", "o")], before=[("t", "p")],
                           before_kind="O")),
        (15, encode_insert(11, [("t", "1"), ("n", None)])),
        (20, encode_commit(20, 20, 1_000_000)),
    ]
    named, ctl = _named_batch(v1)
    assert named.num_rows == 12
    batches = [named]
    # v2: a streamed xid stays open across the batch boundary, so its rows
    # are withheld, then re-fed with the next batch and emitted there
    seg_a = [
        (30, encode_stream_start(60)),
        (31, with_stream_xid(encode_insert(9, [("t", "7"), ("t", "s"),
                                               ("n", None)]), 60)),
    ]
    named_a, ctl_a = _named_batch(seg_a, [False, True], ctl.relations)
    assert named_a.num_rows == 0
    seg_b = [
        seg_a[1],
        (32, with_stream_xid(encode_update(9, [("t", "7"), ("u", None),
                                               ("t", "ß")]), 60)),
        (33, encode_stream_stop()),
        (34, encode_stream_commit(60, 34, 34, 5_000_000)),
    ]
    named_b, _ = _named_batch(
        seg_b, [True, True, False, False], ctl.relations, open_at_start=True
    )
    assert named_b.column("xid").to_pylist() == [60, 60]
    batches.append(named_b)

    for named in batches:
        kernel, ref = _kernel_and_reference(spark, named)
        assert kernel.schema == ref.schema
        assert [f.nullable for f in kernel.schema.fields] == [
            f.nullable for f in ref.schema.fields
        ]
        got = _rows_by_lsn(kernel.collect())
        assert got == _rows_by_lsn(ref.collect())
    got = {r["lsn"]: r for r in _rows_by_lsn(
        _kernel_and_reference(spark, batches[0])[0].collect()
    )}
    assert got[4]["after"] == {"id": "1", "v": "ünïcødé ✓", "w": "𝄞 😀"}
    assert got[13]["after"] is None and got[13]["after_nulls"] is None
    assert got[11]["after"] == {} and got[11]["after_toasted"] == []
    assert got[6]["after_toasted"] == ["v"] and got[6]["before_kind"] == "K"


def test_envelope_count_mismatch_and_duplicate_key_raise(spark, monkeypatch):
    """A tuple whose cell count differs from its relation's column count
    raises naming the LSN — in the kernel, never rerouted to the row path
    — and so does a name repeated among a row's 't' cells, which the
    lambda projection's ``map_from_entries`` refuses too."""
    from debezium_spark.sources import pgoutput

    rel = (0, encode_relation(9, "public", "t", [(1, "id", 20, -1),
                                                 (0, "v", 25, -1)]))

    def no_row_path(*a, **k):
        raise AssertionError("rerouted to the row path")

    for cells in ([("t", "1")], [("t", "1"), ("t", "a"), ("n", None)]):
        msgs = [rel, (7, encode_insert(9, cells))]
        with monkeypatch.context() as m:
            m.setattr(pgoutput, "_frame_batch_rowpath", no_row_path)
            named, _ = _named_batch(msgs)
            with pytest.raises(ValueError, match=r"lsn 7 carries \d cells"):
                pgoutput._envelope_batch(named)
        with pytest.raises(Exception, match=r"lsn 7 carries \d cells"):
            decode_pgoutput_binary(spark, _frame(spark, msgs)).collect()

    dup = [
        (0, encode_relation(9, "public", "t", [(1, "a", 20, -1),
                                               (0, "a", 25, -1)])),
        (3, encode_insert(9, [("t", "1"), ("t", "2")])),
    ]
    named, _ = _named_batch(dup)
    with pytest.raises(ValueError, match="Duplicate map key 'a'.*lsn 3"):
        pgoutput._envelope_batch(named)
    _, ref = _kernel_and_reference(spark, named)
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        ref.collect()
