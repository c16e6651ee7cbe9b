"""Binlog v4 wire-format goldens (sources/binlog.py).

Layouts pinned against the public binlog v4 format the reference's
deserializer library (mysql-binlog-connector-java, wired in
BinlogStreamingChangeEventSource.java:549-560) implements: 19-byte
little-endian headers, length-encoded integers, TABLE_MAP metadata,
v2 rows events with present/null bitmaps. Expected values are
hand-written byte strings — the decoder is checked against the FORMAT,
not our encoder.
"""

from __future__ import annotations

import struct

import pytest

from debezium_spark.sources.binlog import (
    DELETE_ROWS_EVENT,
    HEADER_LEN,
    QUERY_EVENT,
    TABLE_MAP_EVENT,
    TYPE_DOUBLE,
    TYPE_LONG,
    TYPE_LONGLONG,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    XID_EVENT,
    _enc_lenenc,
    _read_lenenc,
    decode_binlog_rows,
    encode_header,
    encode_query,
    encode_rows_event,
    encode_table_map,
    encode_xid,
    parse_event,
    parse_header,
    parse_table_map,
)


def test_header_layout():
    raw = encode_header(
        WRITE_ROWS_EVENT, 10, timestamp=1700000000, server_id=7,
        log_pos=4321, flags=1,
    )
    assert len(raw) == HEADER_LEN
    assert raw == (
        struct.pack("<I", 1700000000)
        + bytes([WRITE_ROWS_EVENT])
        + struct.pack("<I", 7)
        + struct.pack("<I", 29)  # 19 + body
        + struct.pack("<I", 4321)
        + struct.pack("<H", 1)
    )
    h = parse_header(raw)
    assert (h["timestamp"], h["type_code"], h["server_id"]) == (
        1700000000, WRITE_ROWS_EVENT, 7,
    )
    assert (h["event_size"], h["log_pos"], h["flags"]) == (29, 4321, 1)


def test_lenenc_boundaries():
    for n in (0, 250, 251, 65535, 65536, 1 << 23, 1 << 24, 1 << 40):
        enc = _enc_lenenc(n)
        got, off = _read_lenenc(enc, 0)
        assert (got, off) == (n, len(enc))
    assert _enc_lenenc(250) == bytes([250])
    assert _enc_lenenc(251) == b"\xfc\xfb\x00"
    assert _enc_lenenc(65536) == b"\xfd\x00\x00\x01"


def test_table_map_bytes_and_parse():
    raw = encode_table_map(
        313, "inventory", "products",
        [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE],
        [0, 64, 8], [False, False, True], log_pos=5,
    )
    body = raw[HEADER_LEN:]
    assert body == (
        (313).to_bytes(6, "little")
        + struct.pack("<H", 1)
        + bytes([9]) + b"inventory\x00"
        + bytes([8]) + b"products\x00"
        + bytes([3])
        + bytes([TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE])
        + bytes([3]) + struct.pack("<H", 64) + bytes([8])
        + bytes([0b100])  # nullability bitmap: only col 2
    )
    tm = parse_table_map(body)
    assert (tm["table_id"], tm["schema"], tm["table"]) == (
        313, "inventory", "products",
    )
    assert tm["types"] == [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE]
    assert tm["metas"] == [0, 64, 8]
    assert tm["nullable"] == [False, False, True]


def _registry():
    tm = encode_table_map(
        9, "d", "t", [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE],
        [0, 64, 8], [False, True, True],
    )
    return {9: parse_table_map(tm[HEADER_LEN:])}


def test_write_rows_bytes_null_bitmap_and_parse():
    raw = encode_rows_event(
        WRITE_ROWS_EVENT, 9,
        [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE], [0, 64, 8],
        [{"before": None, "after": [5, None, 2.5]}], log_pos=77,
    )
    body = raw[HEADER_LEN:]
    assert body == (
        (9).to_bytes(6, "little")
        + struct.pack("<H", 1)       # flags
        + struct.pack("<H", 2)       # extra-data len (self-inclusive)
        + bytes([3])                 # lenenc column count
        + bytes([0b111])             # columns-present bitmap
        + bytes([0b010])             # null bitmap: col 1 NULL
        + struct.pack("<q", 5)
        + struct.pack("<d", 2.5)
    )
    ev = parse_event(raw, _registry())
    assert ev["kind"] == "write_rows" and ev["log_pos"] == 77
    assert ev["rows"] == [{"before": None, "after": [5, None, 2.5]}]


def test_update_rows_carries_both_images():
    raw = encode_rows_event(
        UPDATE_ROWS_EVENT, 9,
        [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE], [0, 64, 8],
        [{"before": [1, "a", 1.0], "after": [1, "b", None]}],
    )
    ev = parse_event(raw, _registry())
    assert ev["rows"] == [
        {"before": [1, "a", 1.0], "after": [1, "b", None]},
    ]


def test_delete_rows_and_multiple_rows_per_event():
    raw = encode_rows_event(
        DELETE_ROWS_EVENT, 9,
        [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE], [0, 64, 8],
        [{"before": [1, "x", 0.5], "after": None},
         {"before": [2, None, None], "after": None}],
    )
    ev = parse_event(raw, _registry())
    assert [r["before"] for r in ev["rows"]] == [
        [1, "x", 0.5], [2, None, None],
    ]


def test_varchar_two_byte_length_prefix():
    """VARCHAR metadata >= 256 switches the value to a 2-byte length
    prefix — the path a 16-bit-length string column takes."""
    long_s = "y" * 300
    raw = encode_rows_event(
        WRITE_ROWS_EVENT, 9, [TYPE_VARCHAR], [300],
        [{"before": None, "after": [long_s]}],
    )
    body = raw[HEADER_LEN:]
    # after bitmaps: 1-byte null bitmap (0), then 2-byte LE length 300
    assert struct.pack("<H", 300) in body
    tm = parse_table_map(
        encode_table_map(9, "d", "t", [TYPE_VARCHAR], [300], [False])[
            HEADER_LEN:
        ]
    )
    ev = parse_event(raw, {9: tm})
    assert ev["rows"][0]["after"] == [long_s]


def test_query_and_xid_events():
    q = encode_query("inventory", "BEGIN", log_pos=3)
    ev = parse_event(q, {})
    assert (ev["kind"], ev["schema"], ev["query"]) == (
        "query", "inventory", "BEGIN",
    )
    x = encode_xid(2**40 + 5, log_pos=9)
    assert x[HEADER_LEN:] == struct.pack("<Q", 2**40 + 5)
    ev = parse_event(x, {})
    assert (ev["kind"], ev["xid"], ev["log_pos"]) == ("xid", 2**40 + 5, 9)


def test_rotate_and_gtid_events():
    """Offset-tracking events: ROTATE hands off the next binlog file,
    GTID carries the (server-uuid, tx-number) identity per transaction."""
    from debezium_spark.sources.binlog import encode_gtid, encode_rotate

    r = encode_rotate(4, "binlog.000042", log_pos=0)
    assert r[HEADER_LEN:] == (4).to_bytes(8, "little") + b"binlog.000042"
    ev = parse_event(r, {})
    assert (ev["kind"], ev["position"], ev["next_file"]) == (
        "rotate", 4, "binlog.000042",
    )
    sid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    g = encode_gtid(sid, 23, flags=1)
    ev = parse_event(g, {})
    assert (ev["kind"], ev["flags"], ev["gno"]) == ("gtid", 1, 23)
    assert ev["gtid"] == f"{sid}:23"


def test_unknown_event_skips_and_errors_are_loud():
    # INTVAR (5): statement-based-replication artifact, deliberately
    # unhandled (row-based streams never carry it)
    assert parse_event(encode_header(5, 0), {})["kind"] == "skip"
    # STOP and HEARTBEAT now have arms (handleServerStop:690,
    # handleServerHeartbeat:700): boundary/liveness markers
    assert parse_event(encode_header(3, 0), {})["kind"] == "server_stop"
    from debezium_spark.sources.binlog import encode_heartbeat

    hb = parse_event(encode_heartbeat("binlog.000007"), {})
    assert (hb["kind"], hb["log_file"]) == (
        "server_heartbeat", "binlog.000007",
    )
    # rows event for an unmapped table id raises (can't walk values blind)
    raw = encode_rows_event(
        WRITE_ROWS_EVENT, 404, [TYPE_LONGLONG], [0],
        [{"before": None, "after": [1]}],
    )
    with pytest.raises(ValueError, match="unmapped table id"):
        parse_event(raw, {})
    # column type outside the slice raises at the value walk
    tm = parse_table_map(
        encode_table_map(9, "d", "t", [TYPE_LONG], [0], [False])[HEADER_LEN:]
    )
    tm["types"] = [250]  # MYSQL_TYPE_BLOB — not in the slice
    bad = encode_rows_event(
        WRITE_ROWS_EVENT, 9, [TYPE_LONG], [0],
        [{"before": None, "after": [1]}],
    )
    with pytest.raises(ValueError, match="outside the decoded slice"):
        parse_event(bad, {9: tm})


def test_distributed_decode_ints_strings_doubles_and_images(spark):
    msgs = [
        encode_table_map(
            9, "d", "t", [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE],
            [0, 64, 8], [False, True, True], log_pos=0,
        ),
        encode_query("d", "BEGIN", log_pos=1),
        encode_rows_event(
            WRITE_ROWS_EVENT, 9,
            [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE], [0, 64, 8],
            [{"before": None, "after": [10, "a", 0.25]}], log_pos=2,
        ),
        encode_rows_event(
            UPDATE_ROWS_EVENT, 9,
            [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_DOUBLE], [0, 64, 8],
            [{"before": [10, "a", 0.25], "after": [10, None, 0.5]}],
            log_pos=3,
        ),
        encode_xid(55, log_pos=4),
    ]
    df = spark.createDataFrame(
        [(bytearray(m),) for m in msgs], "msg binary"
    )
    rows = {r["log_pos"]: r for r in decode_binlog_rows(df).collect()}
    assert rows[1]["kind"] == "query" and rows[1]["after"] == ["BEGIN"]
    assert rows[4]["kind"] == "xid" and rows[4]["after"] == ["55"]
    ins = rows[2]
    assert (ins["kind"], ins["schema"], ins["table"]) == ("c", "d", "t")
    assert ins["after"] == ["10", "a", None]  # double in nums, not text
    assert ins["after_nums"] == [None, None, 0.25]
    upd = rows[3]
    assert upd["before"] == ["10", "a", None]
    assert upd["after"] == ["10", None, None]
    assert upd["after_nums"] == [None, None, 0.5]


def test_table_map_registry_dedupes_repeated_maps(spark):
    """Real binlogs repeat a TABLE_MAP before EVERY rows event, each
    repeat under a fresh header (timestamp/log_pos differ) — the
    registry must dedupe on the post-header BODY, so the driver collect
    stays bounded by table count, not stream length."""
    from debezium_spark.sources.binlog import table_map_registry

    def tm(**hdr):
        return encode_table_map(
            23, "db", "t", [TYPE_LONG], [0], [False], **hdr
        )

    repeats = [tm(timestamp=1000 + i, log_pos=120 + 40 * i)
               for i in range(50)]
    df = spark.createDataFrame(
        [(bytearray(m),) for m in repeats], "msg binary"
    )
    reg = table_map_registry(df)
    assert list(reg) == [23]
    assert reg[23]["table"] == "t" and reg[23]["types"] == [TYPE_LONG]


def test_newdecimal_documented_vector():
    """The packed-BCD layout against MySQL's own documented example:
    DECIMAL(14,4) 1234567890.1234 -> 81 0D FB 38 D2 04 D2 (first group
    1 digit/1 byte, full group 234567890, frac group 1234, sign bit on
    byte 0)."""
    from debezium_spark.sources.binlog import (
        _enc_newdecimal,
        _read_newdecimal,
    )

    raw = bytes.fromhex("810dfb38d204d2")
    assert _enc_newdecimal("1234567890.1234", 14, 4) == raw
    assert _read_newdecimal(raw, 0, 14, 4) == ("1234567890.1234", 7)
    # negative: bitwise complement of everything, sign bit clear
    neg = _enc_newdecimal("-1234567890.1234", 14, 4)
    assert neg == bytes(b ^ 0xFF for b in raw)
    assert _read_newdecimal(neg, 0, 14, 4)[0] == "-1234567890.1234"
    # scale round-trips pad/truncate to the declared typmod
    assert _read_newdecimal(_enc_newdecimal("7.5", 10, 3), 0, 10, 3)[0] \
        == "7.500"
    assert _read_newdecimal(_enc_newdecimal("0", 9, 0), 0, 9, 0)[0] == "0"
    big = "123456789012345678.901234567890"
    assert _read_newdecimal(_enc_newdecimal(big, 30, 12), 0, 30, 12)[0] == big


def test_widened_value_codecs_roundtrip():
    """DATE/DATETIME2/TIMESTAMP2/TIME2/BLOB/ENUM/SET byte layouts: known
    vectors plus encode->decode round trips at several fsp widths."""
    from debezium_spark.sources.binlog import (
        ENUM_REAL,
        SET_REAL,
        TYPE_BLOB,
        TYPE_DATE,
        TYPE_DATETIME2,
        TYPE_STRING,
        TYPE_TIME2,
        TYPE_TIMESTAMP2,
        _enc_value,
        _read_value,
    )

    # DATE 2024-03-07: day | month<<5 | year<<9 = 7 | 96 | 1036288
    raw = _enc_value("2024-03-07", TYPE_DATE, 0)
    assert raw == ((2024 << 9) | (3 << 5) | 7).to_bytes(3, "little")
    assert _read_value(raw, 0, TYPE_DATE, 0) == ("2024-03-07", 3)

    # DATETIME2 fsp=0 and fsp=6
    raw = _enc_value("2023-12-31 23:59:58", TYPE_DATETIME2, 0)
    assert len(raw) == 5
    assert _read_value(raw, 0, TYPE_DATETIME2, 0)[0] == "2023-12-31 23:59:58"
    raw = _enc_value("2023-12-31 23:59:58.123456", TYPE_DATETIME2, 6)
    assert len(raw) == 8
    assert _read_value(raw, 0, TYPE_DATETIME2, 6)[0] \
        == "2023-12-31 23:59:58.123456"

    # TIMESTAMP2: 4-byte BE epoch secs + frac -> epoch micros
    raw = _enc_value(1_700_000_000_250_000, TYPE_TIMESTAMP2, 2)
    assert raw == (1_700_000_000).to_bytes(4, "big") + bytes([25])
    assert _read_value(raw, 0, TYPE_TIMESTAMP2, 2)[0] \
        == 1_700_000_000_250_000

    # TIME2 838:59:58 fits the 10-bit hour field
    raw = _enc_value("838:59:58", TYPE_TIME2, 0)
    assert _read_value(raw, 0, TYPE_TIME2, 0)[0] == "838:59:58"
    raw = _enc_value("01:02:03.5", TYPE_TIME2, 1)
    assert _read_value(raw, 0, TYPE_TIME2, 1)[0] == "01:02:03.5"

    # BLOB with 2-byte LE prefix
    raw = _enc_value(b"\x00\xffbinary", TYPE_BLOB, 2)
    assert raw[:2] == (8).to_bytes(2, "little")
    assert _read_value(raw, 0, TYPE_BLOB, 2) == (b"\x00\xffbinary", 10)

    # ENUM ordinal (2-byte) and SET bitmask (3-byte) via the STRING carrier
    em = (ENUM_REAL << 8) | 2
    assert _read_value(_enc_value(300, TYPE_STRING, em), 0, TYPE_STRING, em) \
        == (300, 2)
    sm = (SET_REAL << 8) | 3
    assert _read_value(_enc_value(0b101001, TYPE_STRING, sm), 0,
                       TYPE_STRING, sm) == (0b101001, 3)


def test_widened_table_map_metadata_roundtrip():
    """TABLE_MAP metadata block: fsp bytes, (precision,scale) pairs,
    BLOB prefix widths and the STRING (real_type, width) pair all walk
    correctly — a mis-sized metadata read would shift every later
    column."""
    from debezium_spark.sources.binlog import (
        ENUM_REAL,
        SET_REAL,
        TYPE_BLOB,
        TYPE_DATE,
        TYPE_DATETIME2,
        TYPE_NEWDECIMAL,
        TYPE_STRING,
        TYPE_TIME2,
        TYPE_TIMESTAMP2,
    )

    types = [TYPE_LONG, TYPE_NEWDECIMAL, TYPE_DATE, TYPE_DATETIME2,
             TYPE_TIMESTAMP2, TYPE_TIME2, TYPE_BLOB, TYPE_STRING,
             TYPE_STRING, TYPE_VARCHAR]
    metas = [0, (12 << 8) | 2, 0, 6, 2, 1, 2, (ENUM_REAL << 8) | 1,
             (SET_REAL << 8) | 2, 300]
    raw = encode_table_map(
        77, "db", "wide", types, metas, [False] * len(types), log_pos=100
    )
    tm = parse_table_map(raw[HEADER_LEN:])
    assert tm["types"] == types and tm["metas"] == metas


def test_minimal_row_images_absent_vs_null(spark):
    """binlog-row-image=MINIMAL golden: an absent column (present bit
    clear) survives an update INTACT, while an explicitly NULLed column
    (present bit set, null bit set) clears — and a PK-only delete drops
    the row."""
    from pyspark.sql import functions as F

    from debezium_spark.operators.reduce import fold_partial_images
    from debezium_spark.sources.binlog import (
        TYPE_LONGLONG,
        decode_binlog_rows,
        encode_rows_event,
    )

    TYPES = [TYPE_LONGLONG, TYPE_VARCHAR, TYPE_VARCHAR]
    METAS = [0, 64, 64]
    TID = 88
    msgs = [
        encode_table_map(TID, "db", "t", TYPES, METAS,
                         [False, True, True], log_pos=0),
        # full insert: (1, 'a', 'keepme') and (2, 'x', 'y')
        encode_rows_event(WRITE_ROWS_EVENT, TID, TYPES, METAS,
                          [{"before": None, "after": [1, "a", "keepme"]},
                           {"before": None, "after": [2, "x", "y"]}],
                          log_pos=10),
        # MINIMAL update on key 1: ONLY column 1 changes; column 2 absent
        encode_rows_event(UPDATE_ROWS_EVENT, TID, TYPES, METAS,
                          [{"before": [1, None, None],
                            "after": [None, "b", None]}],
                          present=[True, False, False],
                          present_after=[False, True, False], log_pos=20),
        # MINIMAL update on key 1: column 2 explicitly NULLed (present)
        encode_rows_event(UPDATE_ROWS_EVENT, TID, TYPES, METAS,
                          [{"before": [1, None, None],
                            "after": [None, None, None]}],
                          present=[True, False, False],
                          present_after=[False, False, True], log_pos=30),
        # PK-only delete of key 2
        encode_rows_event(DELETE_ROWS_EVENT, TID, TYPES, METAS,
                          [{"before": [2, None, None], "after": None}],
                          present=[True, False, False], log_pos=40),
    ]
    df = spark.createDataFrame(
        [(bytearray(m),) for m in msgs], "msg binary"
    )
    dec = decode_binlog_rows(df)
    # decode surfaces absent-vs-null distinctly: the present arrays
    upd = dec.filter(F.col("log_pos") == 20).collect()[0]
    assert upd["before_present"] == [True, False, False]
    assert upd["after_present"] == [False, True, False]
    assert upd["after"] == [None, "b", None]  # absent cells are None +
    # present=False; the NULLed cell at pos 30 is None + present=True
    nulled = dec.filter(F.col("log_pos") == 30).collect()[0]
    assert nulled["after_present"] == [False, False, True]
    assert nulled["after"] == [None, None, None]

    out = {r["__key"]: r for r in
           fold_partial_images(dec, n_cols=3).collect()}
    assert list(out) == ["1"]          # key 2 deleted
    assert out["1"]["c1"] == "b"       # changed by the MINIMAL update
    assert out["1"]["c2"] is None      # explicitly NULLed (present)
    # ... and before the NULLing update it must have been kept intact:
    partial = fold_partial_images(
        dec.filter(F.col("log_pos") <= 20), n_cols=3
    ).collect()
    keep = {r["__key"]: r for r in partial}
    assert keep["1"]["c2"] == "keepme"  # absent != NULL


def test_enum_set_labels_resolve_from_ddl(spark):
    """End-to-end label resolution: the DDL parser keeps ENUM/SET label
    lists (the wire carries only ordinals/bitmasks), and the decode's
    numeric values resolve through them — including MySQL's invalid-
    ordinal-0 empty string and the multi-bit SET text form."""
    from pyspark.sql import functions as F

    from debezium_spark.schema.ddl import parse_ddl
    from debezium_spark.sources.binlog import (
        resolve_enum_label,
        resolve_set_labels,
    )

    ch = parse_ddl(
        "CREATE TABLE t (id INT PRIMARY KEY,"
        " mood ENUM('happy','it''s fine','sad') NOT NULL,"
        " tags SET('red','green','blue'))"
    )
    cols = {c.name: c for c in ch.columns}
    assert cols["mood"].enum_values == ["happy", "it's fine", "sad"]
    assert cols["tags"].enum_values == ["red", "green", "blue"]
    assert cols["mood"].spark_type == "string"
    assert cols["id"].enum_values is None

    df = spark.createDataFrame(
        [(1, 2, 0b101), (2, 0, 0), (3, None, None)],
        "id int, mood_ord int, tag_mask int",
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            resolve_enum_label(
                F.col("mood_ord"), cols["mood"].enum_values
            ).alias("mood"),
            resolve_set_labels(
                F.col("tag_mask"), cols["tags"].enum_values
            ).alias("tags"),
        ).collect()
    }
    assert out[1]["mood"] == "it's fine" and out[1]["tags"] == "red,blue"
    assert out[2]["mood"] == "" and out[2]["tags"] == ""
    assert out[3]["mood"] is None and out[3]["tags"] is None


def test_small_type_codecs_roundtrip_and_layout():
    from debezium_spark.sources.binlog import (
        TYPE_BIT,
        TYPE_FLOAT,
        TYPE_INT24,
        TYPE_SHORT,
        TYPE_TINY,
        TYPE_YEAR,
        _enc_value,
        _read_value,
    )

    # byte-level layout goldens (not just round-trips)
    assert _enc_value(-2, TYPE_TINY, 0) == b"\xfe"
    assert _enc_value(-2, TYPE_SHORT, 0) == b"\xfe\xff"
    assert _enc_value(-2, TYPE_INT24, 0) == b"\xfe\xff\xff"
    assert _enc_value(2.25, TYPE_FLOAT, 4) == struct.pack("<f", 2.25)
    assert _enc_value(1970, TYPE_YEAR, 0) == bytes([70])
    assert _enc_value(0, TYPE_YEAR, 0) == b"\x00"
    # BIT(10): two bytes big-endian, high bits left-padded
    assert _enc_value(0b11_0000_0001, TYPE_BIT, 10) == b"\x03\x01"

    for t, m, v in [
        (TYPE_TINY, 0, 127), (TYPE_TINY, 0, -128),
        (TYPE_SHORT, 0, -32768), (TYPE_INT24, 0, (1 << 23) - 1),
        (TYPE_FLOAT, 4, -0.5), (TYPE_YEAR, 0, 2155),
        (TYPE_BIT, 1, 1), (TYPE_BIT, 64, (1 << 64) - 1),
    ]:
        buf = _enc_value(v, t, m)
        out, end = _read_value(buf, 0, t, m)
        assert out == v and end == len(buf)


def test_bit_table_map_metadata_wire_order():
    # wire = (bits % 8, whole bytes); parse folds to the total bit width
    from debezium_spark.sources.binlog import (
        HEADER_LEN,
        TYPE_BIT,
        encode_table_map,
        parse_table_map,
    )

    ev = encode_table_map(9, "d", "t", [TYPE_BIT], [13], [False], log_pos=4)
    body = ev[HEADER_LEN:]
    # metadata block: lenenc len 2, then bits%8=5, bytes=1
    i = body.index(b"\x01t\x00") + 3 + 1 + 1  # table name, lenenc ncols, type
    assert body[i : i + 3] == bytes([2, 5, 1])
    assert parse_table_map(body)["metas"] == [13]


def test_jsonb_scalar_and_inline_layouts():
    from debezium_spark.sources.jsonb import (
        T_INT16,
        T_LITERAL,
        T_SMALL_ARR,
        decode_jsonb,
        encode_jsonb,
        jsonb_to_text,
    )

    # top-level scalar: type byte + payload
    assert encode_jsonb(7) == bytes([T_INT16]) + struct.pack("<h", 7)
    assert encode_jsonb(None) == bytes([T_LITERAL, 0x00])
    assert encode_jsonb(True) == bytes([T_LITERAL, 0x01])

    # small array [1, null]: both values inlined in 2-byte entry fields
    enc = encode_jsonb([1, None])
    assert enc[0] == T_SMALL_ARR
    count = int.from_bytes(enc[1:3], "little")
    size = int.from_bytes(enc[3:5], "little")
    assert count == 2 and size == len(enc) - 1
    assert enc[5] == T_INT16 and enc[6:8] == struct.pack("<h", 1)
    assert enc[8] == T_LITERAL and enc[9] == 0x00
    assert decode_jsonb(enc) == [1, None]
    assert jsonb_to_text(enc) == "[1,null]"


def test_jsonb_object_key_sort_and_spilled_values():
    from debezium_spark.sources.jsonb import encode_jsonb, jsonb_to_text

    # server key order: length then bytes — NOT insertion order
    enc = encode_jsonb({"bb": 1, "a": 2, "ab": 3, "ccc": 2**40})
    assert jsonb_to_text(enc) == '{"a":2,"ab":3,"bb":1,"ccc":1099511627776}'

    # int32/int64/double/string spill past the entry table in small form
    enc = encode_jsonb({"k": [2**20, 2**40, 0.5, "s"]})
    assert jsonb_to_text(enc) == '{"k":[1048576,1099511627776,0.5,"s"]}'


def test_jsonb_large_form():
    from debezium_spark.sources.jsonb import (
        T_LARGE_ARR,
        decode_jsonb,
        encode_jsonb,
    )

    big = ["x" * 9000 for _ in range(9)]  # > 64 KiB payload
    enc = encode_jsonb(big)
    assert enc[0] == T_LARGE_ARR
    assert decode_jsonb(enc) == big


def test_jsonb_opaque_typed_values_round_trip():
    """OPAQUE (0x0f) values — CAST decimals/dates/times/datetimes packed
    inside a JSON document — decode per the binlog client's JsonBinary
    opaque switch and render like the server's JSON output."""
    from debezium_spark.sources.jsonb import (
        JsonDate,
        JsonDatetime,
        JsonDecimal,
        JsonOpaque,
        JsonTime,
        decode_jsonb,
        encode_jsonb,
        jsonb_to_text,
    )

    doc = {
        "dec": JsonDecimal("1234.56", 10, 2),
        "neg": JsonDecimal("-0.05", 5, 2),
        "d": JsonDate(2015, 1, 15),
        "t": JsonTime(23, 24, 25, 123456),
        "dt": JsonDatetime(2015, 1, 15, 23, 24, 25),
        "raw": JsonOpaque(15, b"hello"),
    }
    enc = encode_jsonb(doc)
    assert decode_jsonb(enc) == {
        k: doc[k] for k in sorted(doc, key=lambda k: (len(k), k))
    }
    assert jsonb_to_text(enc) == (
        '{"d":"2015-01-15","t":"23:24:25.123456",'
        '"dt":"2015-01-15 23:24:25.000000","dec":1234.56,'
        '"neg":-0.05,"raw":"base64:type15:aGVsbG8="}'
    )
    # negative TIME carries the sign on the packed int64
    assert jsonb_to_text(encode_jsonb([JsonTime(5, 0, 1, 0, neg=True)])) == (
        '["-05:00:01.000000"]'
    )


def test_jsonb_zero_length_document_is_sql_null():
    """MySQL writes a zero-length JSONB document for a JSON column set to
    SQL NULL; the reference's BinlogValueConverters.convertJson delivers
    null there, so the text layer maps it to None while the parse layer
    (JsonBinary.parse-equivalent) still refuses."""
    import pytest as _pytest

    from debezium_spark.sources.jsonb import decode_jsonb, jsonb_to_text

    assert jsonb_to_text(b"") is None
    with _pytest.raises(ValueError, match="empty"):
        decode_jsonb(b"")


def test_json_column_through_rows_event(spark):
    from debezium_spark.sources.binlog import (
        TYPE_JSON,
        TYPE_LONG,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )

    types, metas = [TYPE_LONG, TYPE_JSON], [0, 4]
    tm = encode_table_map(31, "db", "j", types, metas, [False, True],
                          log_pos=0)
    rows = [
        {"before": None, "after": [1, {"a": [True, "x", 300]}]},
        {"before": None, "after": [2, None]},
    ]
    ev = encode_rows_event(WRITE_ROWS_EVENT, 31, types, metas, rows,
                           log_pos=8)
    df = spark.createDataFrame(
        [(bytearray(tm),), (bytearray(ev),)], "msg binary"
    )
    out = {
        r["after"][0]: r["after"][1]
        for r in decode_binlog_rows(df).filter("kind = 'c'").collect()
    }
    assert out == {"1": '{"a":[true,"x",300]}', "2": None}


def test_mariadb_gtid_event_roundtrip():
    from debezium_spark.sources.binlog import (
        encode_mariadb_gtid,
        parse_event,
    )

    ev = encode_mariadb_gtid(3, 42, flags2=0, log_pos=77, server_id=9)
    out = parse_event(ev, {})
    assert out["kind"] == "gtid"
    assert out["gtid"] == "3-9-42"  # domain-server-sequence
    assert out["gno"] == 42 and out["domain_id"] == 3
    assert "commit_id" not in out

    ev2 = encode_mariadb_gtid(0, 7, flags2=0x02, commit_id=555,
                              log_pos=78, server_id=1)
    out2 = parse_event(ev2, {})
    assert out2["gtid"] == "0-1-7" and out2["commit_id"] == 555


# ---------------------------------------------------------------------------
# s19d — TABLE_MAP optional metadata TLVs (MySQL 8: SIGNEDNESS,
# COLUMN_NAME, ENUM/SET_STR_VALUE; consumed by the reference through its
# binlog client's TableMapEventMetadata)
# ---------------------------------------------------------------------------
def test_table_map_optional_metadata_tlvs():
    from debezium_spark.sources.binlog import (
        HEADER_LEN,
        TYPE_LONG,
        TYPE_STRING,
        TYPE_TINY,
        encode_table_map,
        parse_table_map,
    )

    types = [TYPE_LONG, TYPE_TINY, TYPE_STRING, TYPE_STRING]
    metas = [0, 0, (247 << 8) | 1, (248 << 8) | 1]
    ev = encode_table_map(
        7, "d", "t", types, metas, [False] * 4,
        unsigned=[True, False, False, False],
        column_names=["a", "b", "c", "d"],
        enum_values=[["x", "y"]],
        set_values=[["r", "w"]],
        log_pos=4,
    )
    body = ev[HEADER_LEN:]
    m = parse_table_map(body)
    # SIGNEDNESS covers NUMERIC columns only, MSB-first: numeric cols are
    # (a, b); a unsigned -> first payload byte 0b10000000
    i = body.index(bytes([1, 1]))  # TLV type 1, lenenc len 1
    assert body[i + 2] == 0x80
    assert m["unsigned"] == [True, False, False, False]
    assert m["column_names"] == ["a", "b", "c", "d"]
    assert m["enum_labels_by_col"] == {2: ["x", "y"]}
    assert m["set_labels_by_col"] == {3: ["r", "w"]}
    # a TABLE_MAP without TLVs defaults to all-signed, no labels
    plain = parse_table_map(
        encode_table_map(7, "d", "t", types, metas, [False] * 4)[HEADER_LEN:]
    )
    assert plain["unsigned"] == [False] * 4
    assert "enum_labels_by_col" not in plain


def test_unsigned_decode_and_wire_labels(spark):
    """Values above each signed max decode correctly under SIGNEDNESS;
    enum ordinal 0 is MySQL's invalid-value empty string; out-of-range
    ordinals/bitmasks raise instead of mis-labeling."""
    from debezium_spark.sources.binlog import (
        TYPE_STRING,
        TYPE_TINY,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
    )

    types = [TYPE_TINY, TYPE_STRING, TYPE_STRING]
    metas = [0, (247 << 8) | 1, (248 << 8) | 1]
    uns = [True, False, False]

    def stream(rows):
        rel = (0, bytearray(encode_table_map(
            9, "d", "t", types, metas, [False] * 3, unsigned=uns,
            enum_values=[["lo", "hi"]], set_values=[["r", "w"]],
            log_pos=0)))
        msgs = [rel] + [
            (i + 1, bytearray(encode_rows_event(
                WRITE_ROWS_EVENT, 9, types, metas,
                [{"before": None, "after": list(r)}],
                unsigned=uns, log_pos=i + 1)))
            for i, r in enumerate(rows)
        ]
        return spark.createDataFrame(msgs, "pos long, msg binary")

    out = decode_binlog_rows(stream([(255, 2, 3), (130, 0, 0)])).filter(
        "kind = 'c'").orderBy("log_pos").collect()
    assert out[0]["after"] == ["255", "hi", "r,w"]
    assert out[1]["after"] == ["130", "", ""]   # ordinal 0 -> ''

    import pytest as _pytest

    with _pytest.raises(Exception, match="enum ordinal"):
        decode_binlog_rows(stream([(1, 3, 0)])).filter(
            "kind = 'c'").collect()
    with _pytest.raises(Exception, match="set bitmask"):
        decode_binlog_rows(stream([(1, 1, 4)])).filter(
            "kind = 'c'").collect()


def test_transaction_payload_compressed_equals_plain(spark):
    """A zstd-compressed TRANSACTION_PAYLOAD decodes to exactly the rows
    its uncompressed twin produces (WL#3549; the reference's
    handleTransactionPayload replays embedded events through the normal
    dispatch). The NONE compression arm and payload-embedded TABLE_MAP
    discovery are covered too."""
    from debezium_spark.sources.binlog import (
        PAYLOAD_COMPRESSION_NONE,
        TYPE_LONGLONG,
        TYPE_VARCHAR,
        WRITE_ROWS_EVENT,
        XID_EVENT,
        decode_binlog_rows,
        encode_rows_event,
        encode_table_map,
        encode_transaction_payload,
        encode_xid,
    )

    types, metas = [TYPE_LONGLONG, TYPE_VARCHAR], [0, 40]
    tm = encode_table_map(7, "db", "t", types, metas, [False, True],
                          log_pos=10)
    rows = encode_rows_event(
        WRITE_ROWS_EVENT, 7, types, metas,
        [{"after": [1, "a"]}, {"after": [2, "b,c"]}], log_pos=11)
    xid = encode_xid(42, log_pos=12)

    def decoded(msgs):
        df = spark.createDataFrame(
            [(i, bytearray(m)) for i, m in enumerate(msgs)],
            "pos long, msg binary")
        return sorted(
            tuple(r) for r in decode_binlog_rows(df)
            .select("log_pos", "kind", "after").collect()
        )

    plain = decoded([tm, rows, xid])
    zstd_wrapped = decoded([encode_transaction_payload([tm, rows, xid])])
    none_wrapped = decoded([encode_transaction_payload(
        [tm, rows, xid], compression=PAYLOAD_COMPRESSION_NONE)])
    assert plain == zstd_wrapped == none_wrapped
    assert any(k == "c" for _, k, _a in plain)
    assert any(k == "xid" for _, k, _a in plain)


def test_transaction_payload_malformed():
    """Size-declaration mismatches and unknown compression types raise;
    unknown TLV fields are skipped by their declared length."""
    import pytest

    from debezium_spark.sources.binlog import (
        _enc_lenenc,
        _payload_raw_events,
        encode_transaction_payload,
        encode_xid,
    )

    xid = encode_xid(1, log_pos=5)
    ok = encode_transaction_payload([xid])
    assert _payload_raw_events(ok[19:]) == [xid]

    with pytest.raises(ValueError, match="unsupported compression"):
        encode_transaction_payload([xid], compression=7)

    # declared uncompressed size wrong -> raise, not silent truncation
    body = bytearray(encode_transaction_payload(
        [xid], compression=255)[19:])
    # TLV layout: type,len,value triplets — the second triplet's value is
    # the uncompressed size; corrupt it
    bad = bytes(body).replace(
        _enc_lenenc(3) + _enc_lenenc(len(_enc_lenenc(len(xid))))
        + _enc_lenenc(len(xid)),
        _enc_lenenc(3) + _enc_lenenc(len(_enc_lenenc(len(xid) + 9)))
        + _enc_lenenc(len(xid) + 9),
    )
    with pytest.raises(ValueError, match="declared"):
        _payload_raw_events(bad)

    # unknown TLV field type skipped by length
    unknown = _enc_lenenc(9) + _enc_lenenc(3) + b"abc"
    patched = unknown + bytes(body)
    assert _payload_raw_events(patched) == [xid]

    # truncated/garbled TLV headers raise the module's clean ValueError,
    # never IndexError/struct.error (r12 ADVICE): a header cut before the
    # END field, a multi-byte lenenc cut mid-value, and a field whose
    # declared length overruns the body
    with pytest.raises(ValueError, match="TLV"):
        _payload_raw_events(_enc_lenenc(2) + _enc_lenenc(1))  # no value/END
    with pytest.raises(ValueError, match="TLV"):
        _payload_raw_events(b"\xfc\x01")  # lenenc cut mid-value
    with pytest.raises(ValueError, match="TLV"):
        _payload_raw_events(_enc_lenenc(9) + _enc_lenenc(50) + b"abc")


def test_stream_decoder_accumulates_payload_embedded_maps(spark):
    """BinlogStreamDecoder: a TABLE_MAP that only ever appeared INSIDE a
    compressed payload in batch 1 must still decode a plain rows event
    in batch 2 (the reference caches payload-embedded TableMapEventData
    the same way, BinlogStreamingChangeEventSource.java:500-510)."""
    from debezium_spark.sources.binlog import (
        BinlogStreamDecoder,
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        encode_rows_event,
        encode_table_map,
        encode_transaction_payload,
    )

    types, metas = [TYPE_LONGLONG], [0]
    tm = encode_table_map(9, "db", "t", types, metas, [False], log_pos=10)
    rows1 = encode_rows_event(WRITE_ROWS_EVENT, 9, types, metas,
                              [{"after": [1]}], log_pos=11)
    rows2 = encode_rows_event(WRITE_ROWS_EVENT, 9, types, metas,
                              [{"after": [2]}], log_pos=20)

    dec = BinlogStreamDecoder()
    b1 = spark.createDataFrame(
        [(1, bytearray(encode_transaction_payload([tm, rows1])))],
        "pos long, msg binary",
    )
    out1 = dec.decode_batch(b1).filter("kind = 'c'").collect()
    assert [r["after"] for r in out1] == [["1"]]

    # batch 2: a BARE rows event, no map anywhere in the batch
    b2 = spark.createDataFrame(
        [(2, bytearray(rows2))], "pos long, msg binary"
    )
    out2 = dec.decode_batch(b2).filter("kind = 'c'").collect()
    assert [r["after"] for r in out2] == [["2"]]


def test_include_query_config_off_drops_markers(spark):
    """include_query=False mirrors the unregistered handler
    (BinlogStreamingChangeEventSource.java:224-228): ROWS_QUERY /
    ANNOTATE_ROWS events vanish entirely, the output schema has no
    query column, and rows decode unchanged. ON threads the statement
    to payload-embedded rows and resets it at the XID so a second
    transaction in the same payload chain can't inherit a stale one."""
    from debezium_spark.sources.binlog import (
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_annotate_rows,
        encode_rows_event,
        encode_rows_query,
        encode_table_map,
        encode_transaction_payload,
        encode_xid,
    )

    types, metas = [TYPE_LONGLONG], [0]
    tm = encode_table_map(5, "db", "t", types, metas, [False], log_pos=10)
    rq = encode_rows_query("INSERT 1", log_pos=11)
    rows1 = encode_rows_event(WRITE_ROWS_EVENT, 5, types, metas,
                              [{"after": [1]}], log_pos=12)
    xid1 = encode_xid(1, log_pos=13)
    # a SECOND tx in the same payload without its own marker: must be NULL
    rows2 = encode_rows_event(WRITE_ROWS_EVENT, 5, types, metas,
                              [{"after": [2]}], log_pos=22)
    xid2 = encode_xid(2, log_pos=23)
    payload = encode_transaction_payload([tm, rq, rows1, xid1, rows2, xid2])

    df = spark.createDataFrame(
        [(0, bytearray(payload)), (1, bytearray(encode_annotate_rows(
            "UPDATE x", log_pos=30)))],
        "pos long, msg binary",
    )
    off = decode_binlog_rows(df)
    assert "query" not in off.columns
    got_off = {(r["log_pos"], r["kind"]) for r in off.collect()}
    assert (12, "c") in got_off and (22, "c") in got_off
    assert not any(k == "rows_query" for _, k in got_off)

    on = decode_binlog_rows(df, include_query=True)
    by_pos = {r["log_pos"]: r for r in on.collect()}
    assert by_pos[12]["query"] == "INSERT 1"
    assert by_pos[22]["query"] is None          # reset at xid1
    assert by_pos[30]["kind"] == "rows_query"   # top-level marker row
    assert by_pos[30]["after"] == ["UPDATE x"]
    # a marker row carries the statement it ANNOUNCES, not the previous
    # one (r13 review fix)
    assert by_pos[11]["query"] == "INSERT 1"
    assert by_pos[30]["query"] == "UPDATE x"


def test_xa_bracket_rows_match_plain_transaction(spark):
    """An XA transaction's rows events (bracketed by XA START/END QUERY
    events, an XA_PREPARE, and a later XA COMMIT query) decode to
    exactly the same c-rows a plain BEGIN..XID transaction produces —
    the reference treats the prepare as a no-op boundary
    (prepareTransaction:1062-1070), so XA bracketing must never change
    row output."""
    from debezium_spark.sources.binlog import (
        TYPE_LONGLONG,
        WRITE_ROWS_EVENT,
        decode_binlog_rows,
        encode_query,
        encode_rows_event,
        encode_table_map,
        encode_xa_prepare,
        encode_xid,
    )

    types, metas = [TYPE_LONGLONG], [0]
    tm = encode_table_map(6, "db", "t", types, metas, [False], log_pos=9)
    rows = encode_rows_event(WRITE_ROWS_EVENT, 6, types, metas,
                             [{"after": [7]}, {"after": [8]}], log_pos=11)

    def c_rows(msgs):
        df = spark.createDataFrame(
            [(i, bytearray(m)) for i, m in enumerate(msgs)],
            "pos long, msg binary")
        return sorted(
            tuple(r) for r in decode_binlog_rows(df)
            .filter("kind = 'c'").select("log_pos", "after").collect()
        )

    plain = c_rows([tm, encode_query("db", "BEGIN", log_pos=10), rows,
                    encode_xid(1, log_pos=12)])
    xa = c_rows([
        tm,
        encode_query("db", "XA START X'a1'", log_pos=10),
        rows,
        encode_query("db", "XA END X'a1'", log_pos=12),
        encode_xa_prepare(b"\xa1", log_pos=13),
        encode_query("db", "XA COMMIT X'a1'", log_pos=14),
    ])
    assert plain == xa

    # the prepare marker itself surfaces MySQL's xid rendering
    df = spark.createDataFrame(
        [(0, bytearray(encode_xa_prepare(b"\xa1", b"zz", format_id=9,
                                         log_pos=13)))],
        "pos long, msg binary")
    m = decode_binlog_rows(df).filter("kind = 'xa_prepare'").collect()[0]
    assert m["after"] == ["X'a1',X'7a7a',9"]


# ---------------------------------------------------------------------------
# r13: vectorized rows-event decode (fast path) vs the exact per-row path
# ---------------------------------------------------------------------------
def _vec_fixture():
    """A mixed-table, mixed-type message list spanning the vectorized
    slice: every fixed-width type, strings/blobs, enum/set labels,
    MINIMAL images, nulls, markers interleaved."""
    from debezium_spark.sources.binlog import (
        ENUM_REAL,
        SET_REAL,
        TYPE_BIT,
        TYPE_BLOB,
        TYPE_DATE,
        TYPE_DATETIME2,
        TYPE_FLOAT,
        TYPE_INT24,
        TYPE_NEWDECIMAL,
        TYPE_SHORT,
        TYPE_STRING,
        TYPE_TIME2,
        TYPE_TIMESTAMP2,
        TYPE_TINY,
        TYPE_YEAR,
    )

    t_a = [TYPE_TINY, TYPE_SHORT, TYPE_INT24, TYPE_LONG, TYPE_LONGLONG,
           TYPE_FLOAT, TYPE_DOUBLE, TYPE_YEAR, TYPE_BIT, TYPE_DATE]
    m_a = [0, 0, 0, 0, 0, 4, 8, 0, 13, 0]
    t_b = [TYPE_DATETIME2, TYPE_TIME2, TYPE_TIMESTAMP2, TYPE_NEWDECIMAL,
           TYPE_VARCHAR, TYPE_VARCHAR, TYPE_BLOB, TYPE_STRING, TYPE_STRING]
    m_b = [6, 3, 2, (20 << 8) | 6, 40, 300, 2,
           (ENUM_REAL << 8) | 1, (SET_REAL << 8) | 2]
    tm_a = encode_table_map(41, "db", "fixed", t_a, m_a, [True] * 10,
                            unsigned=[True, False, True, False, True,
                                      False, False, False, False, False],
                            log_pos=10)
    tm_b = encode_table_map(
        42, "db", "varied", t_b, m_b, [True] * 9,
        column_names=list("abcdefghi"),
        enum_values=[["x", "y", "z"]], set_values=[["p", "q", "r"]],
        log_pos=11)
    rows_a = [
        [255, -32768, 16777215, -2147483648, 18446744073709551615,
         1.5, -2.5e300, 2026, 0x1FFF, "2026-08-17"],
        [0, 0, 0, 0, 0, -0.0, 0.0, 0, 0, "0000-00-00"],
        [None, -1, None, 7, None, None, 3.14, 2155, 1, None],
    ]
    rows_b = [
        ["2026-08-17 12:34:56.123456", "23:59:59.999", 1755432896120000,
         "-12345678901234.567890", "héllo", "x" * 300, b"\xde\xad",
         2, 5],
        ["0000-00-00 00:00:00", "00:00:00", 0, "0.000000", "", None,
         b"", 0, 0],
        [None, None, None, "99999999999999.999999", None, "",
         None, None, 7],
    ]
    msgs = [encode_query("db", "BEGIN", log_pos=100), tm_a, tm_b]
    for i, r in enumerate(rows_a):
        msgs.append(encode_rows_event(WRITE_ROWS_EVENT, 41, t_a, m_a,
                                      [{"after": r}],
                                      unsigned=[True, False, True, False,
                                                True, False, False, False,
                                                False, False],
                                      log_pos=200 + i))
    for i, r in enumerate(rows_b):
        msgs.append(encode_rows_event(WRITE_ROWS_EVENT, 42, t_b, m_b,
                                      [{"after": r}], log_pos=300 + i))
    msgs.append(encode_rows_event(
        UPDATE_ROWS_EVENT, 42, t_b, m_b,
        [{"before": rows_b[0], "after": rows_b[1]}], log_pos=400))
    msgs.append(encode_rows_event(
        DELETE_ROWS_EVENT, 41, t_a, m_a, [{"before": rows_a[0]}],
        unsigned=[True, False, True, False, True,
                  False, False, False, False, False],
        log_pos=401))
    # MINIMAL images: PK-only before, changed-only after
    msgs.append(encode_rows_event(
        UPDATE_ROWS_EVENT, 41, t_a, m_a,
        [{"before": [3] + [None] * 9,
          "after": [None, 9] + [None] * 8}],
        present=[True] + [False] * 9,
        present_after=[False, True] + [False] * 8, log_pos=402))
    msgs.append(encode_xid(9, log_pos=500))
    return msgs


def test_vectorized_rows_decode_matches_row_path():
    import pyarrow as pa

    from debezium_spark.sources.binlog import (
        _decode_rows_batch_vectorized,
        _rows_batch_rowpath,
        table_map_registry,
    )

    msgs = _vec_fixture()
    reg = {}
    for raw in msgs:
        if raw[HEADER_LEN - 15] == TABLE_MAP_EVENT:
            tm = parse_table_map(raw[HEADER_LEN:])
            reg[tm["table_id"]] = tm
    for include_query in (False, True):
        vec = _decode_rows_batch_vectorized(
            pa.array(msgs, type=pa.binary()), reg, include_query)
        row = _rows_batch_rowpath(msgs, reg, include_query)
        assert vec.schema.equals(row.schema)
        assert vec.to_pylist() == row.to_pylist()
    # sliced (non-zero offset) arrow input decodes identically too
    arr = pa.array(msgs, type=pa.binary()).slice(3, 7)
    vec = _decode_rows_batch_vectorized(arr, reg, False)
    row = _rows_batch_rowpath([v.as_py() for v in arr], reg, False)
    assert vec.to_pylist() == row.to_pylist()


def test_vectorized_rows_decode_falls_outside_slice():
    """Shapes beyond the vectorized slice raise (the caller then re-runs
    the exact row path): multi-row events, wide decimals."""
    import pyarrow as pa
    import pytest as _pytest

    from debezium_spark.sources.binlog import (
        TYPE_JSON,
        TYPE_NEWDECIMAL,
        _decode_rows_batch_vectorized,
        parse_table_map,
    )

    types, metas = [TYPE_LONG], [0]
    tm = parse_table_map(
        encode_table_map(5, "d", "t", types, metas, [True])[HEADER_LEN:])
    multi = encode_rows_event(
        WRITE_ROWS_EVENT, 5, types, metas,
        [{"after": [1]}, {"after": [2]}], log_pos=7)
    with _pytest.raises(ValueError):
        _decode_rows_batch_vectorized(
            pa.array([multi], type=pa.binary()), {5: tm}, False)

    wide = [TYPE_NEWDECIMAL]
    wmeta = [(30 << 8) | 2]
    wtm = parse_table_map(
        encode_table_map(6, "d", "w", wide, wmeta, [True])[HEADER_LEN:])
    ev = encode_rows_event(WRITE_ROWS_EVENT, 6, wide, wmeta,
                           [{"after": ["1" * 28 + ".90"]}], log_pos=8)
    with _pytest.raises(ValueError):
        _decode_rows_batch_vectorized(
            pa.array([ev], type=pa.binary()), {6: wtm}, False)

    # JSON columns stay ON the fast path now (per-cell JSONB render,
    # everything else vectorized) and match the row path exactly
    from debezium_spark.sources.binlog import _rows_batch_rowpath

    jt, jm = [TYPE_JSON, TYPE_LONG], [4, 0]
    jtm = parse_table_map(
        encode_table_map(7, "d", "j", jt, jm, [True, True])[HEADER_LEN:])
    jmsgs = [
        encode_rows_event(WRITE_ROWS_EVENT, 7, jt, jm,
                          [{"after": [b"\x05\x01\x00", 4]}], log_pos=9),
        encode_rows_event(WRITE_ROWS_EVENT, 7, jt, jm,
                          [{"after": [b"", 5]}], log_pos=10),
        encode_rows_event(WRITE_ROWS_EVENT, 7, jt, jm,
                          [{"after": [None, 6]}], log_pos=11),
    ]
    vec = _decode_rows_batch_vectorized(
        pa.array(jmsgs, type=pa.binary()), {7: jtm}, False)
    row = _rows_batch_rowpath(jmsgs, {7: jtm}, False)
    assert vec.to_pylist() == row.to_pylist()
    # ... while a MALFORMED document still raises the renderer's error
    bad = encode_rows_event(WRITE_ROWS_EVENT, 7, jt, jm,
                            [{"after": [b"\xff\xff\xff", 7]}], log_pos=12)
    with _pytest.raises(ValueError):
        _decode_rows_batch_vectorized(
            pa.array([bad], type=pa.binary()), {7: jtm}, False)


def test_vectorized_kernel_bug_surfaces(monkeypatch):
    """Only the kernel's declared decline reasons reroute a batch to the
    row path; any other exception is a bug and surfaces."""
    import pyarrow as pa

    from debezium_spark.sources import binlog

    msgs = _vec_fixture()
    reg = {}
    for raw in msgs:
        if raw[HEADER_LEN - 15] == TABLE_MAP_EVENT:
            tm = parse_table_map(raw[HEADER_LEN:])
            reg[tm["table_id"]] = tm
    arr = pa.array(msgs, type=pa.binary())
    expected = binlog._rows_batch_rowpath(msgs, reg, False).to_pylist()

    def declines(msg_arr, registry, include_query):
        raise ValueError("outside the vectorized slice")

    monkeypatch.setattr(binlog, "_decode_rows_batch_vectorized", declines)
    assert binlog._rows_batch(arr, reg, False).to_pylist() == expected

    def broken(msg_arr, registry, include_query):
        raise TypeError("kernel bug")

    monkeypatch.setattr(binlog, "_decode_rows_batch_vectorized", broken)
    with pytest.raises(TypeError, match="kernel bug"):
        binlog._rows_batch(arr, reg, False)


def test_decode_binlog_rows_spark_fast_and_fallback(spark):
    """End-to-end through mapInArrow: a vectorizable stream and a
    multi-row (fallback) stream both match the per-row semantics."""
    msgs = _vec_fixture()
    df = spark.createDataFrame(
        [(bytearray(m),) for m in msgs], "msg binary")
    out = {r["log_pos"]: r for r in decode_binlog_rows(df).collect()}
    assert out[201]["after"][:5] == ["0", "0", "0", "0", "0"]
    assert out[200]["after"][0] == "255"
    assert out[200]["after"][4] == "18446744073709551615"
    assert out[300]["after"][7] == "y"  # enum ordinal 2 -> label
    assert out[300]["after"][8] == "p,r"  # set bitmask 5 -> labels
    assert out[402]["before_present"] == [True] + [False] * 9
    assert out[402]["after"][1] == "9"
    # multi-row event forces the whole-batch row-path fallback
    multi = encode_rows_event(
        WRITE_ROWS_EVENT, 41, [TYPE_LONG], [0],
        [{"after": [1]}, {"after": [2]}], log_pos=600)
    tm41 = encode_table_map(41, "db", "fixed", [TYPE_LONG], [0], [True],
                            log_pos=599)
    df2 = spark.createDataFrame(
        [(bytearray(tm41),), (bytearray(multi),)], "msg binary")
    vals = sorted(
        r["after"][0] for r in decode_binlog_rows(df2).collect())
    assert vals == ["1", "2"]


def test_vectorized_payload_expansion_matches_row_path():
    """TRANSACTION_PAYLOAD batches decode through the vectorized group
    path (embedded rows events) and match the exact per-row replay,
    including include.query statement threading, marker interleave, a
    payload-embedded TABLE_MAP, and a top-level rows event in the same
    batch."""
    import pyarrow as pa

    from debezium_spark.sources.binlog import (
        PAYLOAD_COMPRESSION_NONE,
        TYPE_NEWDECIMAL,
        _decode_rows_batch_vectorized,
        _rows_batch_rowpath,
        encode_rows_query,
        encode_transaction_payload,
    )

    types = [TYPE_LONG, TYPE_VARCHAR, TYPE_NEWDECIMAL]
    metas = [0, 40, (12 << 8) | 3]
    tm = encode_table_map(21, "db", "pay", types, metas, [True] * 3,
                          log_pos=10)
    msgs = []
    for t in range(6):
        emb = [
            encode_query("db", "BEGIN", log_pos=100 + t * 10),
            tm,
            encode_rows_query(f"INSERT /* {t} */", log_pos=101 + t * 10),
            encode_rows_event(
                WRITE_ROWS_EVENT, 21, types, metas,
                [{"after": [t, f"v{t}", f"-{t}.125"]}],
                log_pos=102 + t * 10),
            encode_rows_query(f"UPDATE /* {t} */", log_pos=103 + t * 10),
            encode_rows_event(
                UPDATE_ROWS_EVENT, 21, types, metas,
                [{"before": [t, f"v{t}", f"-{t}.125"],
                  "after": [t, f"w{t}", None]}],
                log_pos=104 + t * 10),
            encode_xid(t, log_pos=105 + t * 10),
        ]
        comp = (PAYLOAD_COMPRESSION_NONE if t % 3 == 0 else 0)
        msgs.append(encode_transaction_payload(
            emb, compression=comp, log_pos=106 + t * 10))
    # a top-level rows event and marker interleave with the payloads
    msgs.append(encode_rows_event(
        WRITE_ROWS_EVENT, 21, types, metas,
        [{"after": [99, "top", "0.000"]}], log_pos=900))
    msgs.append(encode_xid(77, log_pos=901))

    reg = {21: parse_table_map(tm[HEADER_LEN:])}
    for include_query in (False, True):
        vec = _decode_rows_batch_vectorized(
            pa.array(msgs, type=pa.binary()), dict(reg), include_query)
        row = _rows_batch_rowpath(msgs, dict(reg), include_query)
        assert vec.schema.equals(row.schema)
        assert vec.to_pylist() == row.to_pylist()
    # the registry entry can also arrive ONLY inside the payloads (the
    # streaming bootstrap case): both paths start from an empty registry
    vec = _decode_rows_batch_vectorized(
        pa.array(msgs[:-2], type=pa.binary()), {}, True)
    row = _rows_batch_rowpath(msgs[:-2], {}, True)
    assert vec.to_pylist() == row.to_pylist()


def test_vectorized_payload_guards():
    """Exactness guards raise (-> whole-batch row-path fallback): an
    embedded rows event for a table id unmapped at its walk position,
    and an embedded TABLE_MAP redefining a registered id differently."""
    import pyarrow as pa
    import pytest as _pytest

    from debezium_spark.sources.binlog import (
        _decode_rows_batch_vectorized,
        encode_transaction_payload,
    )

    ev = encode_rows_event(WRITE_ROWS_EVENT, 77, [TYPE_LONG], [0],
                           [{"after": [1]}], log_pos=5)
    pay = encode_transaction_payload([ev], log_pos=6)
    with _pytest.raises(ValueError):
        _decode_rows_batch_vectorized(
            pa.array([pay], type=pa.binary()), {}, False)

    tm_a = encode_table_map(8, "d", "t", [TYPE_LONG], [0], [True])
    tm_b = encode_table_map(8, "d", "t2", [TYPE_LONG], [0], [True])
    reg = {8: parse_table_map(tm_a[HEADER_LEN:])}
    pay2 = encode_transaction_payload(
        [tm_b,
         encode_rows_event(WRITE_ROWS_EVENT, 8, [TYPE_LONG], [0],
                           [{"after": [2]}], log_pos=9)],
        log_pos=10)
    with _pytest.raises(ValueError):
        _decode_rows_batch_vectorized(
            pa.array([pay2], type=pa.binary()), reg, False)
    # ... while re-announcing the SAME map is the normal stream shape
    pay3 = encode_transaction_payload(
        [tm_a,
         encode_rows_event(WRITE_ROWS_EVENT, 8, [TYPE_LONG], [0],
                           [{"after": [3]}], log_pos=11)],
        log_pos=12)
    out = _decode_rows_batch_vectorized(
        pa.array([pay3], type=pa.binary()), reg, False)
    assert [r["after"] for r in out.to_pylist()] == [["3"]]
    # a NESTED payload must fall back too: its parse_event replay would
    # register embedded TABLE_MAPs without the redefinition guard
    nested = encode_transaction_payload(
        [encode_transaction_payload(
            [tm_a,
             encode_rows_event(WRITE_ROWS_EVENT, 8, [TYPE_LONG], [0],
                               [{"after": [4]}], log_pos=13)],
            log_pos=14)],
        log_pos=15)
    with _pytest.raises(ValueError, match="nested TRANSACTION_PAYLOAD"):
        _decode_rows_batch_vectorized(
            pa.array([nested], type=pa.binary()), dict(reg), False)
