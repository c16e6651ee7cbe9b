"""S7 — MySQL binlog wire-format decode (the real binary event format).

Reference: ``debezium-connector-binlog/.../BinlogStreamingChangeEventSource
.java`` — the event dispatch table (:197-222: TABLE_MAP→metadata,
QUERY→DDL/BEGIN, XID→tx commit, WRITE/UPDATE/DELETE_ROWS incl. the EXT_*
v2 variants→insert/update/delete) and the deserializer wiring (:549-560).
The reference delegates byte-level deserialization to the public
mysql-binlog-connector-java library; this module implements the same
public binlog v4 layout directly:

* Event header (19 bytes, little-endian like the whole format):
  uint32 timestamp, uint8 event type, uint32 server id, uint32 event
  size, uint32 next-event position (``log_pos``), uint16 flags.
* TABLE_MAP (19): uint48 table id, uint16 flags, 1-byte-len + schema +
  NUL, 1-byte-len + table + NUL, lenenc column count, column type
  bytes, lenenc-length metadata block, nullability bitmap.
* WRITE/UPDATE/DELETE_ROWS v2 (30/31/32): uint48 table id, uint16
  flags, uint16 extra-data length (self-inclusive), lenenc column
  count, columns-present bitmap(s) — UPDATE has two (before, after) —
  then per row image: null bitmap (one bit per present column,
  LSB-first) + values for the non-null columns.
* QUERY (2): uint32 thread id, uint32 exec time, uint8 schema length,
  uint16 error code, uint16 status-vars length, status vars, schema,
  NUL, SQL text. Carries both DDL and the tx ``BEGIN`` marker.
* XID (16): uint64 xid — the transaction commit.

Column-type slice (value layouts): LONG=3 (int32), DOUBLE=5 (IEEE
float64, metadata byte 8), LONGLONG=8 (int64), VARCHAR=15 (metadata
uint16 max length; values are 1-byte length-prefixed below 256, 2-byte
otherwise), DATE=10 (3 bytes LE, day|month<<5|year<<9),
TIMESTAMP2=17 (4 bytes BE epoch seconds + fsp tail; surfaces epoch µs),
DATETIME2=18 (5 bytes BE sign-biased packed calendar + fsp tail),
TIME2=19 (3 bytes BE 0x800000-biased + fsp tail), NEWDECIMAL=246
(packed BCD, 9 digits per 4 BE bytes, MSB sign, negatives complemented;
metadata precision+scale), BLOB=252 (metadata = LE length-prefix
width), and STRING=254 as the ENUM/SET carrier (metadata byte 1 is the
real type 247/248, byte 2 the 1-2 byte LE ordinal / N-byte LE bitmask
width — the wire carries ordinals, label resolution is schema
history's). The s19c/s28 widening adds TINY=1, SHORT=2, INT24=9
(signed LE), FLOAT=4 (IEEE single), YEAR=13 (byte since 1900),
BIT=16 (big-endian over ceil(bits/8) bytes, width from 2-byte
metadata), and JSON=245 (length-prefixed JSONB documents rendered to
text by ``sources/jsonb.py``). Remaining type codes raise so a wider
slice is an explicit extension, not silent corruption. Event
checksums (5.6+ CRC32 trailers) are out of scope — fixtures are
generated checksum-free, matching a FORMAT_DESCRIPTION that declares
checksum algorithm 0.

Spark shape mirrors ``sources/pgoutput.py``: TABLE_MAP events — deduped,
bounded by table count — parse driver-side into a broadcast registry
(rows-event decoding NEEDS the column types, so the registry is a kernel
closure, not a join); the rows decode itself is one Arrow-batched
``mapInPandas`` kernel, never a per-row UDF.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# event type codes (binlog v4)
QUERY_EVENT = 2
STOP_EVENT = 3
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
HEARTBEAT_EVENT = 27  # primary liveness; never written to the binlog file
WRITE_ROWS_EVENT = 30  # v2 ("EXT_WRITE_ROWS" in the reference's enum)
UPDATE_ROWS_EVENT = 31
DELETE_ROWS_EVENT = 32
GTID_EVENT = 33
VIEW_CHANGE_EVENT = 37          # group replication membership change
XA_PREPARE_EVENT = 38           # XA transaction prepare boundary
TRANSACTION_PAYLOAD_EVENT = 40  # MySQL 8.0.20+ compressed transactions
# statement text of the following rows events, emitted only under
# binlog_rows_query_log_events=ON (MySQL) / always (MariaDB annotates)
ROWS_QUERY_EVENT = 29
MARIADB_ANNOTATE_ROWS_EVENT = 0xA0
MARIADB_GTID_EVENT = 0xA2  # MariaDB numbers its GTID events from 160

EVENT_NAMES = {
    QUERY_EVENT: "query",
    STOP_EVENT: "server_stop",
    ROTATE_EVENT: "rotate",
    FORMAT_DESCRIPTION_EVENT: "format_description",
    XID_EVENT: "xid",
    TABLE_MAP_EVENT: "table_map",
    HEARTBEAT_EVENT: "server_heartbeat",
    WRITE_ROWS_EVENT: "write_rows",
    UPDATE_ROWS_EVENT: "update_rows",
    DELETE_ROWS_EVENT: "delete_rows",
    GTID_EVENT: "gtid",
    VIEW_CHANGE_EVENT: "view_change",
    XA_PREPARE_EVENT: "xa_prepare",
    TRANSACTION_PAYLOAD_EVENT: "transaction_payload",
    ROWS_QUERY_EVENT: "rows_query",
    MARIADB_ANNOTATE_ROWS_EVENT: "rows_query",
    MARIADB_GTID_EVENT: "gtid",
}

# column type codes (the decoded slice)
TYPE_LONG = 3
TYPE_DOUBLE = 5
TYPE_LONGLONG = 8
TYPE_VARCHAR = 15
# s19b widening — the remaining types the reference's deserializer wiring
# consumes (BinlogStreamingChangeEventSource.java:549-560); layouts are the
# public binlog v4 value formats
TYPE_DATE = 10
TYPE_TIMESTAMP2 = 17
TYPE_DATETIME2 = 18
TYPE_TIME2 = 19
TYPE_NEWDECIMAL = 246
TYPE_BLOB = 252
TYPE_STRING = 254  # carrier for ENUM/SET (real type rides the metadata)
ENUM_REAL = 247
SET_REAL = 248
# s19c widening — the fixed-width integer family, FLOAT, YEAR, BIT and
# binary JSON, completing the deserializer wiring's type switch
TYPE_TINY = 1
TYPE_SHORT = 2
TYPE_FLOAT = 4
TYPE_INT24 = 9
TYPE_YEAR = 13
TYPE_BIT = 16
TYPE_JSON = 245

#: the column types MySQL's SIGNEDNESS optional-metadata bitmap covers
#: (is_numeric_type in the server's table-map metadata writer)
_NUMERIC_TYPES = {
    TYPE_TINY, TYPE_SHORT, TYPE_INT24, TYPE_LONG, TYPE_LONGLONG,
    TYPE_FLOAT, TYPE_DOUBLE, TYPE_NEWDECIMAL,
}

HEADER_LEN = 19


# ---------------------------------------------------------------------------
# primitive reads/writes
# ---------------------------------------------------------------------------
def _read_lenenc(buf: bytes, off: int) -> tuple[int, int]:
    b = buf[off]
    if b < 0xFB:
        return b, off + 1
    if b == 0xFC:
        return struct.unpack_from("<H", buf, off + 1)[0], off + 3
    if b == 0xFD:
        return int.from_bytes(buf[off + 1 : off + 4], "little"), off + 4
    if b == 0xFE:
        return struct.unpack_from("<Q", buf, off + 1)[0], off + 9
    raise ValueError(f"bad length-encoded integer prefix {b:#x}")


def _enc_lenenc(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + struct.pack("<Q", n)


def _bitmap_get(bm: bytes, i: int) -> bool:
    return bool(bm[i // 8] >> (i % 8) & 1)


def _enc_bitmap(bits: list[bool]) -> bytes:
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        if b:
            out[i // 8] |= 1 << (i % 8)
    return bytes(out)


# NEWDECIMAL packed-BCD: decimal digits in groups of 9 per 4 big-endian
# bytes; a partial leading/trailing group uses this many bytes for its
# digit count (the public myisampack decimal layout)
_DEC_DIG2BYTES = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]


def _newdecimal_len(precision: int, scale: int) -> int:
    intg0, intg0x = divmod(precision - scale, 9)
    frac0, frac0x = divmod(scale, 9)
    return (
        intg0 * 4 + _DEC_DIG2BYTES[intg0x]
        + frac0 * 4 + _DEC_DIG2BYTES[frac0x]
    )


def _read_newdecimal(buf: bytes, off: int, precision: int, scale: int):
    """Packed-BCD NEWDECIMAL -> exact decimal STRING at declared scale.
    Sign rides the first byte's MSB (set = positive); negative values are
    stored bitwise-complemented."""
    n = _newdecimal_len(precision, scale)
    raw = bytearray(buf[off : off + n])
    positive = bool(raw[0] & 0x80)
    raw[0] ^= 0x80
    if not positive:
        raw = bytearray(b ^ 0xFF for b in raw)
    intg0, intg0x = divmod(precision - scale, 9)
    frac0, frac0x = divmod(scale, 9)
    pos = 0
    int_part = ""
    if intg0x:
        w = _DEC_DIG2BYTES[intg0x]
        int_part += str(int.from_bytes(raw[pos : pos + w], "big"))
        pos += w
    for _ in range(intg0):
        g = str(int.from_bytes(raw[pos : pos + 4], "big"))
        int_part += g.zfill(9) if int_part else g
        pos += 4
    int_part = int_part.lstrip("0") or "0"
    frac_part = ""
    for _ in range(frac0):
        frac_part += str(int.from_bytes(raw[pos : pos + 4], "big")).zfill(9)
        pos += 4
    if frac0x:
        w = _DEC_DIG2BYTES[frac0x]
        frac_part += str(
            int.from_bytes(raw[pos : pos + w], "big")
        ).zfill(frac0x)
        pos += w
    text = int_part + ("." + frac_part if scale else "")
    if not positive and text.strip("0.") != "":
        text = "-" + text
    return text, off + n


def _enc_newdecimal(text: str, precision: int, scale: int) -> bytes:
    neg = text.startswith("-")
    digits = text.lstrip("-")
    int_s, _, frac_s = digits.partition(".")
    int_s = (int_s or "0").zfill(precision - scale)[-(precision - scale):] \
        if precision > scale else ""
    frac_s = frac_s.ljust(scale, "0")[:scale]
    intg0, intg0x = divmod(precision - scale, 9)
    frac0, frac0x = divmod(scale, 9)
    out = bytearray()
    pos = 0
    if intg0x:
        out += int(int_s[:intg0x] or "0").to_bytes(
            _DEC_DIG2BYTES[intg0x], "big"
        )
        pos = intg0x
    for _ in range(intg0):
        out += int(int_s[pos : pos + 9] or "0").to_bytes(4, "big")
        pos += 9
    pos = 0
    for _ in range(frac0):
        out += int(frac_s[pos : pos + 9] or "0").to_bytes(4, "big")
        pos += 9
    if frac0x:
        out += int(frac_s[pos : pos + frac0x] or "0").to_bytes(
            _DEC_DIG2BYTES[frac0x], "big"
        )
    if neg:
        out = bytearray(b ^ 0xFF for b in out)
    out[0] ^= 0x80
    return bytes(out)


def _fsp_bytes(fsp: int) -> int:
    return (fsp + 1) // 2


def _read_frac(buf: bytes, off: int, fsp: int) -> tuple[int, int]:
    """Fractional-seconds tail of DATETIME2/TIMESTAMP2/TIME2 -> µs."""
    w = _fsp_bytes(fsp)
    if not w:
        return 0, off
    v = int.from_bytes(buf[off : off + w], "big")
    return v * 10 ** (6 - 2 * w), off + w


def _enc_frac(micros: int, fsp: int) -> bytes:
    w = _fsp_bytes(fsp)
    if not w:
        return b""
    return (micros // 10 ** (6 - 2 * w)).to_bytes(w, "big")


def _fmt_hms(h: int, m: int, s: int, micros: int, fsp: int) -> str:
    t = f"{h:02d}:{m:02d}:{s:02d}"
    if fsp:
        t += "." + f"{micros:06d}"[:fsp]
    return t


def _read_value(buf: bytes, off: int, type_code: int, meta: int,
                unsigned: bool = False):
    # ``unsigned`` comes from the TABLE_MAP SIGNEDNESS optional metadata
    # (MySQL 8 TLV type 1); without it every integer decodes signed, the
    # pre-8.0 behavior the reference inherits from its binlog client
    if type_code == TYPE_LONG:
        return struct.unpack_from("<I" if unsigned else "<i", buf, off)[0], \
            off + 4
    if type_code == TYPE_LONGLONG:
        return struct.unpack_from("<Q" if unsigned else "<q", buf, off)[0], \
            off + 8
    if type_code == TYPE_DOUBLE:
        return struct.unpack_from("<d", buf, off)[0], off + 8
    if type_code == TYPE_TINY:
        return int.from_bytes(
            buf[off : off + 1], "little", signed=not unsigned
        ), off + 1
    if type_code == TYPE_SHORT:
        return struct.unpack_from("<H" if unsigned else "<h", buf, off)[0], \
            off + 2
    if type_code == TYPE_INT24:
        return int.from_bytes(
            buf[off : off + 3], "little", signed=not unsigned
        ), off + 3
    if type_code == TYPE_FLOAT:
        return struct.unpack_from("<f", buf, off)[0], off + 4
    if type_code == TYPE_YEAR:
        # 1 byte, years since 1900; 0 encodes the zero-year
        b = buf[off]
        return (1900 + b if b else 0), off + 1
    if type_code == TYPE_BIT:
        # big-endian unsigned over ceil(bits/8) bytes (meta = bit width)
        n = (meta + 7) // 8
        return int.from_bytes(buf[off : off + n], "big"), off + n
    if type_code == TYPE_JSON:
        # LE length prefix (width = meta), then a JSONB document —
        # rendered to JSON text the way the reference's emitter does
        from debezium_spark.sources.jsonb import jsonb_to_text

        n = int.from_bytes(buf[off : off + meta], "little")
        off += meta
        return jsonb_to_text(buf[off : off + n]), off + n
    if type_code == TYPE_VARCHAR:
        if meta < 256:
            n = buf[off]
            off += 1
        else:
            n = struct.unpack_from("<H", buf, off)[0]
            off += 2
        return buf[off : off + n].decode("utf-8"), off + n
    if type_code == TYPE_DATE:
        # 3 bytes LE: day | month<<5 | year<<9
        v = int.from_bytes(buf[off : off + 3], "little")
        return (
            f"{(v >> 9) & 0x7FFF:04d}-{(v >> 5) & 0x0F:02d}-{v & 0x1F:02d}",
            off + 3,
        )
    if type_code == TYPE_DATETIME2:
        # 5 bytes BE (sign bit 0x8000000000 set for the supported
        # non-negative range): 17 bits year*13+month, 5 day, 5 hour,
        # 6 minute, 6 second; then the fsp tail
        v = int.from_bytes(buf[off : off + 5], "big") - 0x80_0000_0000
        ym = (v >> 22) & 0x1FFFF
        micros, end = _read_frac(buf, off + 5, meta)
        return (
            f"{ym // 13:04d}-{ym % 13:02d}-{(v >> 17) & 0x1F:02d} "
            + _fmt_hms(
                (v >> 12) & 0x1F, (v >> 6) & 0x3F, v & 0x3F, micros, meta
            ),
            end,
        )
    if type_code == TYPE_TIMESTAMP2:
        # 4 bytes BE epoch seconds + fsp tail -> epoch µs (int); the
        # reference surfaces an UTC instant, the µs long is its exact form
        secs = int.from_bytes(buf[off : off + 4], "big")
        micros, end = _read_frac(buf, off + 4, meta)
        return secs * 1_000_000 + micros, end
    if type_code == TYPE_TIME2:
        # 3 bytes BE, 0x800000-biased: 10 bits hour, 6 min, 6 sec
        v = int.from_bytes(buf[off : off + 3], "big") - 0x80_0000
        if v < 0:
            raise ValueError("negative TIME2 outside the decoded slice")
        micros, end = _read_frac(buf, off + 3, meta)
        return (
            _fmt_hms((v >> 12) & 0x3FF, (v >> 6) & 0x3F, v & 0x3F,
                     micros, meta),
            end,
        )
    if type_code == TYPE_NEWDECIMAL:
        # meta packs (precision, scale)
        return _read_newdecimal(buf, off, meta >> 8, meta & 0xFF)
    if type_code == TYPE_BLOB:
        # meta = width of the LE length prefix (1/2/3/4)
        n = int.from_bytes(buf[off : off + meta], "little")
        off += meta
        return bytes(buf[off : off + n]), off + n
    if type_code == TYPE_STRING:
        real, width = meta >> 8, meta & 0xFF
        if real == ENUM_REAL:
            # 1- or 2-byte LE ordinal; label resolution is schema
            # history's job (the wire carries no labels)
            return int.from_bytes(buf[off : off + width], "little"), off + width
        if real == SET_REAL:
            return int.from_bytes(buf[off : off + width], "little"), off + width
        raise ValueError(
            f"STRING real type {real} outside the decoded slice"
        )
    raise ValueError(f"column type {type_code} outside the decoded slice")


def _enc_value(v, type_code: int, meta: int,
               unsigned: bool = False) -> bytes:
    if type_code == TYPE_LONG:
        return struct.pack("<I" if unsigned else "<i", v)
    if type_code == TYPE_LONGLONG:
        return struct.pack("<Q" if unsigned else "<q", v)
    if type_code == TYPE_DOUBLE:
        return struct.pack("<d", v)
    if type_code == TYPE_TINY:
        return int(v).to_bytes(1, "little", signed=not unsigned)
    if type_code == TYPE_SHORT:
        return struct.pack("<H" if unsigned else "<h", v)
    if type_code == TYPE_INT24:
        return int(v).to_bytes(3, "little", signed=not unsigned)
    if type_code == TYPE_FLOAT:
        return struct.pack("<f", v)
    if type_code == TYPE_YEAR:
        return bytes([0 if v == 0 else int(v) - 1900])
    if type_code == TYPE_BIT:
        return int(v).to_bytes((meta + 7) // 8, "big")
    if type_code == TYPE_JSON:
        from debezium_spark.sources.jsonb import encode_jsonb

        doc = v if isinstance(v, (bytes, bytearray)) else encode_jsonb(v)
        return len(doc).to_bytes(meta, "little") + bytes(doc)
    if type_code == TYPE_VARCHAR:
        raw = v.encode("utf-8")
        pre = bytes([len(raw)]) if meta < 256 else struct.pack("<H", len(raw))
        return pre + raw
    if type_code == TYPE_DATE:
        y, m, d = (int(x) for x in v.split("-"))
        return ((y << 9) | (m << 5) | d).to_bytes(3, "little")
    if type_code == TYPE_DATETIME2:
        date_s, time_s = v.split(" ")
        y, mo, d = (int(x) for x in date_s.split("-"))
        hms, _, frac = time_s.partition(".")
        h, mi, s = (int(x) for x in hms.split(":"))
        micros = int(frac.ljust(6, "0")) if frac else 0
        packed = (
            ((y * 13 + mo) << 22) | (d << 17) | (h << 12) | (mi << 6) | s
        )
        return (packed + 0x80_0000_0000).to_bytes(5, "big") + _enc_frac(
            micros, meta
        )
    if type_code == TYPE_TIMESTAMP2:
        secs, micros = divmod(int(v), 1_000_000)
        return secs.to_bytes(4, "big") + _enc_frac(micros, meta)
    if type_code == TYPE_TIME2:
        hms, _, frac = v.partition(".")
        h, mi, s = (int(x) for x in hms.split(":"))
        micros = int(frac.ljust(6, "0")) if frac else 0
        packed = (h << 12) | (mi << 6) | s
        return (packed + 0x80_0000).to_bytes(3, "big") + _enc_frac(
            micros, meta
        )
    if type_code == TYPE_NEWDECIMAL:
        return _enc_newdecimal(v, meta >> 8, meta & 0xFF)
    if type_code == TYPE_BLOB:
        return len(v).to_bytes(meta, "little") + bytes(v)
    if type_code == TYPE_STRING:
        real, width = meta >> 8, meta & 0xFF
        if real in (ENUM_REAL, SET_REAL):
            return int(v).to_bytes(width, "little")
        raise ValueError(f"STRING real type {real} outside the encoded slice")
    raise ValueError(f"column type {type_code} outside the encoded slice")


def _read_row_image(buf, off, types, metas, present, unsigned=None):
    """One row image: null bitmap over the PRESENT columns (LSB-first),
    then values for present-and-non-null columns in order. Returns a list
    over ALL columns (absent → None too; the fixture always sends all)."""
    n_present = sum(present)
    nb_len = (n_present + 7) // 8
    null_bm = buf[off : off + nb_len]
    off += nb_len
    values, pi = [], 0
    for i, p in enumerate(present):
        if not p:
            values.append(None)
            continue
        if _bitmap_get(null_bm, pi):
            values.append(None)
        else:
            v, off = _read_value(
                buf, off, types[i], metas[i],
                unsigned=bool(unsigned[i]) if unsigned else False,
            )
            values.append(v)
        pi += 1
    return values, off


def _enc_row_image(values, types, metas, present, unsigned=None) -> bytes:
    nulls = [v is None for v, p in zip(values, present) if p]
    out = bytearray(_enc_bitmap(nulls))
    for i, (v, t, m, p) in enumerate(zip(values, types, metas, present)):
        if p and v is not None:
            out += _enc_value(
                v, t, m,
                unsigned=bool(unsigned[i]) if unsigned else False,
            )
    return bytes(out)


# ---------------------------------------------------------------------------
# event parse/encode
# ---------------------------------------------------------------------------
def parse_header(buf: bytes) -> dict:
    ts, etype, server_id, size, log_pos, flags = struct.unpack_from(
        "<IBIIIH", buf, 0
    )
    return {
        "timestamp": ts,
        "type_code": etype,
        "kind": EVENT_NAMES.get(etype, "skip"),
        "server_id": server_id,
        "event_size": size,
        "log_pos": log_pos,
        "flags": flags,
    }


def encode_header(
    type_code: int,
    body_len: int,
    *,
    timestamp: int = 0,
    server_id: int = 1,
    log_pos: int = 0,
    flags: int = 0,
) -> bytes:
    return struct.pack(
        "<IBIIIH",
        timestamp,
        type_code,
        server_id,
        HEADER_LEN + body_len,
        log_pos,
        flags,
    )


def parse_table_map(body: bytes) -> dict:
    table_id = int.from_bytes(body[0:6], "little")
    off = 8  # 6-byte table id + 2-byte flags
    slen = body[off]
    schema = body[off + 1 : off + 1 + slen].decode("utf-8")
    off += 2 + slen  # len byte + name + NUL
    tlen = body[off]
    table = body[off + 1 : off + 1 + tlen].decode("utf-8")
    off += 2 + tlen
    ncols, off = _read_lenenc(body, off)
    types = list(body[off : off + ncols])
    off += ncols
    meta_len, off = _read_lenenc(body, off)
    meta_end = off + meta_len
    metas = []
    for t in types:
        if t == TYPE_VARCHAR:
            metas.append(struct.unpack_from("<H", body, off)[0])
            off += 2
        elif t in (TYPE_DOUBLE, TYPE_FLOAT, TYPE_DATETIME2,
                   TYPE_TIMESTAMP2, TYPE_TIME2, TYPE_BLOB, TYPE_JSON):
            # 1 byte: pack length (DOUBLE/FLOAT), fsp (temporal2), or the
            # LE length-prefix width (BLOB/TEXT/JSON)
            metas.append(body[off])
            off += 1
        elif t == TYPE_BIT:
            # 2 bytes on the wire: bits % 8, then whole bytes — folded
            # here into the total bit width
            metas.append(body[off + 1] * 8 + body[off])
            off += 2
        elif t in (TYPE_NEWDECIMAL, TYPE_STRING):
            # 2 bytes: (precision, scale) for NEWDECIMAL;
            # (real type, pack length) for the STRING carrier (ENUM/SET)
            metas.append((body[off] << 8) | body[off + 1])
            off += 2
        else:  # fixed-width ints / YEAR / DATE carry no metadata
            metas.append(0)
    if off != meta_end:
        raise ValueError("TABLE_MAP metadata block length mismatch")
    nb_len = (ncols + 7) // 8
    null_bm = body[off : off + nb_len]
    off += nb_len
    out = {
        "kind": "table_map",
        "table_id": table_id,
        "schema": schema,
        "table": table,
        "types": types,
        "metas": metas,
        "nullable": [_bitmap_get(null_bm, i) for i in range(ncols)],
    }
    # MySQL 8 optional metadata TLVs (mysql's Optional_metadata_field_type;
    # the reference consumes them through the binlog client's
    # TableMapEventMetadata): type byte + lenenc length + payload.
    numeric_idx = [i for i, t in enumerate(types) if t in _NUMERIC_TYPES]
    enumset_idx = [
        i for i, t, m in zip(range(ncols), types, metas)
        if t == TYPE_STRING and (m >> 8) in (ENUM_REAL, SET_REAL)
    ]
    while off < len(body):
        tlv_type = body[off]
        tlv_len, off = _read_lenenc(body, off + 1)
        payload = body[off : off + tlv_len]
        off += tlv_len
        if tlv_type == 1:  # SIGNEDNESS: MSB-first bitmap, NUMERIC cols only
            unsigned = [False] * ncols
            for pos, ci in enumerate(numeric_idx):
                unsigned[ci] = bool(
                    payload[pos // 8] & (0x80 >> (pos % 8))
                )
            out["unsigned"] = unsigned
        elif tlv_type == 4:  # COLUMN_NAME: lenenc-prefixed, per column
            p, names = 0, []
            while p < len(payload):
                n, p = _read_lenenc(payload, p)
                names.append(payload[p : p + n].decode("utf-8"))
                p += n
            out["column_names"] = names
        elif tlv_type in (5, 6):  # SET_STR_VALUE / ENUM_STR_VALUE
            p, groups = 0, []
            while p < len(payload):
                cnt, p = _read_lenenc(payload, p)
                vals = []
                for _ in range(cnt):
                    n, p = _read_lenenc(payload, p)
                    vals.append(payload[p : p + n].decode("utf-8"))
                    p += n
                groups.append(vals)
            key = "set_values" if tlv_type == 5 else "enum_values"
            # positional: group k belongs to the k-th ENUM (resp. SET)
            # column in column order
            out[key] = groups
        # other TLV types (charsets, pk hints, visibility) skip cleanly
    out.setdefault("unsigned", [False] * ncols)
    # positional label tables: group k of ENUM_STR_VALUE belongs to the
    # k-th ENUM column in column order (same for SET_STR_VALUE)
    if enumset_idx and "enum_values" in out:
        ei = [i for i in enumset_idx if (metas[i] >> 8) == ENUM_REAL]
        out["enum_labels_by_col"] = dict(zip(ei, out["enum_values"]))
    if enumset_idx and "set_values" in out:
        si = [i for i in enumset_idx if (metas[i] >> 8) == SET_REAL]
        out["set_labels_by_col"] = dict(zip(si, out["set_values"]))
    return out


def encode_table_map(
    table_id: int,
    schema: str,
    table: str,
    types: list[int],
    metas: list[int],
    nullable: list[bool],
    unsigned: list[bool] | None = None,
    column_names: list[str] | None = None,
    enum_values: list[list[str]] | None = None,
    set_values: list[list[str]] | None = None,
    **hdr,
) -> bytes:
    meta = b""
    for t, m in zip(types, metas):
        if t == TYPE_VARCHAR:
            meta += struct.pack("<H", m)
        elif t in (TYPE_DOUBLE, TYPE_FLOAT, TYPE_DATETIME2,
                   TYPE_TIMESTAMP2, TYPE_TIME2, TYPE_BLOB, TYPE_JSON):
            meta += bytes([m])
        elif t == TYPE_BIT:
            meta += bytes([m % 8, m // 8])
        elif t in (TYPE_NEWDECIMAL, TYPE_STRING):
            meta += bytes([m >> 8, m & 0xFF])
    s, t_ = schema.encode(), table.encode()
    body = (
        table_id.to_bytes(6, "little")
        + struct.pack("<H", 1)  # flags
        + bytes([len(s)]) + s + b"\x00"
        + bytes([len(t_)]) + t_ + b"\x00"
        + _enc_lenenc(len(types))
        + bytes(types)
        + _enc_lenenc(len(meta)) + meta
        + _enc_bitmap(nullable)
    )
    # MySQL 8 optional metadata TLVs (type byte + lenenc length + payload)
    if unsigned is not None:
        numeric = [u for u, t in zip(unsigned, types) if t in _NUMERIC_TYPES]
        bm = bytearray((len(numeric) + 7) // 8)
        for pos, u in enumerate(numeric):
            if u:
                bm[pos // 8] |= 0x80 >> (pos % 8)  # MSB-first
        body += bytes([1]) + _enc_lenenc(len(bm)) + bytes(bm)
    if column_names is not None:
        payload = b"".join(
            _enc_lenenc(len(n.encode())) + n.encode() for n in column_names
        )
        body += bytes([4]) + _enc_lenenc(len(payload)) + payload
    for tlv_type, groups in ((5, set_values), (6, enum_values)):
        if groups is not None:
            payload = b""
            for vals in groups:
                payload += _enc_lenenc(len(vals))
                for v in vals:
                    payload += _enc_lenenc(len(v.encode())) + v.encode()
            body += bytes([tlv_type]) + _enc_lenenc(len(payload)) + payload
    return encode_header(TABLE_MAP_EVENT, len(body), **hdr) + body


def parse_rows_event(body: bytes, type_code: int, registry: dict) -> dict:
    """WRITE/UPDATE/DELETE_ROWS v2 payload; ``registry`` maps table_id →
    the TABLE_MAP parse (types/metas are REQUIRED to walk the values)."""
    table_id = int.from_bytes(body[0:6], "little")
    tm = registry.get(table_id)
    if tm is None:
        raise ValueError(f"rows event for unmapped table id {table_id}")
    types, metas = tm["types"], tm["metas"]
    uns = tm.get("unsigned")
    off = 8  # table id + flags
    extra_len = struct.unpack_from("<H", body, off)[0]
    off += extra_len  # self-inclusive
    ncols, off = _read_lenenc(body, off)
    if ncols != len(types):
        raise ValueError("rows event column count != TABLE_MAP")
    bm_len = (ncols + 7) // 8
    present = [_bitmap_get(body[off : off + bm_len], i) for i in range(ncols)]
    off += bm_len
    present_after = present
    if type_code == UPDATE_ROWS_EVENT:
        present_after = [
            _bitmap_get(body[off : off + bm_len], i) for i in range(ncols)
        ]
        off += bm_len
    rows = []
    while off < len(body):
        img, off = _read_row_image(
            body, off, types, metas, present, unsigned=uns
        )
        if type_code == UPDATE_ROWS_EVENT:
            after, off = _read_row_image(
                body, off, types, metas, present_after, unsigned=uns
            )
            rows.append({"before": img, "after": after})
        elif type_code == DELETE_ROWS_EVENT:
            rows.append({"before": img, "after": None})
        else:
            rows.append({"before": None, "after": img})
    # present bitmaps surface alongside the values: binlog-row-image=
    # MINIMAL sends PK-only before images and changed-column-only after
    # images, and ABSENT (bit clear) is not NULL (bit set, null bitmap) —
    # the merge layer must keep existing values for absent columns
    return {
        "kind": EVENT_NAMES[type_code],
        "table_id": table_id,
        "schema": tm["schema"],
        "table": tm["table"],
        "rows": rows,
        "before_present": (
            present if type_code != WRITE_ROWS_EVENT else None
        ),
        "after_present": (
            present_after if type_code != DELETE_ROWS_EVENT else None
        ),
    }


def encode_rows_event(
    type_code: int,
    table_id: int,
    types: list[int],
    metas: list[int],
    rows: list[dict],
    present: list[bool] | None = None,
    present_after: list[bool] | None = None,
    unsigned: list[bool] | None = None,
    **hdr,
) -> bytes:
    """``present``/``present_after`` default to all-columns (FULL row
    images); pass partial bitmaps to fixture binlog-row-image=MINIMAL
    streams (PK-only before, changed-only after). Row value lists still
    span ALL columns — absent columns' entries are ignored."""
    ncols = len(types)
    present = [True] * ncols if present is None else present
    present_after = present if present_after is None else present_after
    body = (
        table_id.to_bytes(6, "little")
        + struct.pack("<H", 1)
        + struct.pack("<H", 2)  # extra-data length (just itself)
        + _enc_lenenc(ncols)
        + _enc_bitmap(present)
    )
    if type_code == UPDATE_ROWS_EVENT:
        body += _enc_bitmap(present_after)
    for row in rows:
        if type_code == WRITE_ROWS_EVENT:
            body += _enc_row_image(row["after"], types, metas, present,
                                   unsigned=unsigned)
        elif type_code == DELETE_ROWS_EVENT:
            body += _enc_row_image(row["before"], types, metas, present,
                                   unsigned=unsigned)
        else:
            body += _enc_row_image(row["before"], types, metas, present,
                                   unsigned=unsigned)
            body += _enc_row_image(
                row["after"], types, metas, present_after,
                unsigned=unsigned,
            )
    return encode_header(type_code, len(body), **hdr) + body


# ---------------------------------------------------------------------------
# TRANSACTION_PAYLOAD (MySQL 8.0.20+, binlog_transaction_compression=ON,
# WL#3549): row events for a whole transaction arrive wrapped in ONE
# payload event — a short TLV header (lenenc type, lenenc length, lenenc
# value) followed by the concatenated embedded events, zstd-compressed
# unless the compression-type field says NONE. The reference registers a
# dedicated handler that replays the embedded events through the normal
# dispatch (BinlogStreamingChangeEventSource.java:203,500-510,981-999).
# ---------------------------------------------------------------------------
PAYLOAD_COMPRESSION_ZSTD = 0
PAYLOAD_COMPRESSION_NONE = 255
_OTW_END = 0                 # end of the TLV header
_OTW_PAYLOAD_SIZE = 1        # compressed size (informative)
_OTW_COMPRESSION_TYPE = 2
_OTW_UNCOMPRESSED_SIZE = 3


_ZSTD_CODEC = None


def _zstd(buf: bytes, mode: str, expected: int | None = None) -> bytes:
    """zstd via pyarrow's bundled libzstd (the container has no
    standalone zstandard module); gated so environments without pyarrow
    fail with a clear message instead of an undecodable stream. The
    codec object is constructed once per process — building it per
    payload measurably dominates small-transaction streams."""
    global _ZSTD_CODEC
    if _ZSTD_CODEC is None:
        try:
            import pyarrow as pa
        except ImportError as exc:  # pragma: no cover - pyarrow baked in
            raise RuntimeError(
                "TRANSACTION_PAYLOAD zstd handling needs pyarrow"
            ) from exc
        _ZSTD_CODEC = pa.Codec("zstd")
    codec = _ZSTD_CODEC
    if mode == "compress":
        return bytes(codec.compress(buf))
    if expected is None:
        raise ValueError(
            "compressed transaction payload without an uncompressed-size "
            "field — cannot size the decompression buffer"
        )
    return bytes(codec.decompress(buf, expected))


def _payload_raw_events(body: bytes) -> list[bytes]:
    """TLV walk + decompress + split: the payload event's body -> the raw
    bytes (header included) of each embedded event, order preserved.
    Unknown TLV fields are skipped by their declared length (the codec's
    forward-compatibility contract)."""
    off = 0
    comp = PAYLOAD_COMPRESSION_NONE
    unc_size: int | None = None

    def lenenc(o: int) -> tuple[int, int]:
        # A truncated/garbled header that never yields the END field must
        # fail with the module's ValueError contract, not walk off the
        # buffer into IndexError/struct.error (r12 ADVICE).
        try:
            return _read_lenenc(body, o)
        except (IndexError, struct.error) as exc:
            raise ValueError(
                "truncated transaction payload TLV header"
            ) from exc

    while True:
        if off >= len(body):
            raise ValueError("truncated transaction payload TLV header")
        ftype, off = lenenc(off)
        if ftype == _OTW_END:
            break
        flen, off = lenenc(off)
        if off + flen > len(body):
            raise ValueError("transaction payload TLV field overruns body")
        if ftype == _OTW_COMPRESSION_TYPE:
            comp, _ = _read_lenenc(body, off)
        elif ftype == _OTW_UNCOMPRESSED_SIZE:
            unc_size, _ = _read_lenenc(body, off)
        off += flen
    payload = body[off:]
    if comp == PAYLOAD_COMPRESSION_ZSTD:
        payload = _zstd(payload, "decompress", unc_size)
    elif comp != PAYLOAD_COMPRESSION_NONE:
        raise ValueError(
            f"unsupported transaction payload compression type {comp}"
        )
    if unc_size is not None and len(payload) != unc_size:
        raise ValueError(
            f"transaction payload declared {unc_size} uncompressed bytes, "
            f"got {len(payload)}"
        )
    events = []
    off = 0
    while off < len(payload):
        if off + HEADER_LEN > len(payload):
            raise ValueError("truncated embedded event header in payload")
        (size,) = struct.unpack_from("<I", payload, off + 9)
        if size < HEADER_LEN or off + size > len(payload):
            raise ValueError("embedded event size overruns the payload")
        events.append(payload[off: off + size])
        off += size
    return events


def parse_transaction_payload(body: bytes, registry: dict) -> dict:
    """Replay the embedded events: TABLE_MAPs update ``registry`` BEFORE
    the rows events that reference them parse — the reference captures
    payload-embedded table maps the same way (:500-510)."""
    parsed = []
    for raw in _payload_raw_events(body):
        ev = parse_event(raw, registry)
        if ev["kind"] == "table_map":
            # register BEFORE the next embedded event parses (rows events
            # in the same payload reference this map); one parse, not two
            registry[ev["table_id"]] = ev
        parsed.append(ev)
    return {"kind": "transaction_payload", "events": parsed}


def encode_transaction_payload(
    events: list[bytes],
    compression: int = PAYLOAD_COMPRESSION_ZSTD,
    **hdr,
) -> bytes:
    payload = b"".join(events)
    unc = len(payload)
    if compression == PAYLOAD_COMPRESSION_ZSTD:
        payload = _zstd(payload, "compress")
    elif compression != PAYLOAD_COMPRESSION_NONE:
        raise ValueError(f"unsupported compression type {compression}")

    def tlv(ftype: int, value: int) -> bytes:
        v = _enc_lenenc(value)
        return _enc_lenenc(ftype) + _enc_lenenc(len(v)) + v

    body = (
        tlv(_OTW_COMPRESSION_TYPE, compression)
        + tlv(_OTW_UNCOMPRESSED_SIZE, unc)
        + tlv(_OTW_PAYLOAD_SIZE, len(payload))
        + _enc_lenenc(_OTW_END)
        + payload
    )
    return encode_header(TRANSACTION_PAYLOAD_EVENT, len(body), **hdr) + body


def parse_query(body: bytes) -> dict:
    _thread_id, _exec_time = struct.unpack_from("<II", body, 0)
    slen = body[8]
    _err, svlen = struct.unpack_from("<HH", body, 9)
    off = 13 + svlen
    schema = body[off : off + slen].decode("utf-8")
    off += slen + 1  # NUL
    return {
        "kind": "query",
        "schema": schema,
        "query": body[off:].decode("utf-8"),
    }


def encode_query(schema: str, query: str, **hdr) -> bytes:
    s, q = schema.encode(), query.encode()
    body = (
        struct.pack("<II", 1, 0)
        + bytes([len(s)])
        + struct.pack("<HH", 0, 0)
        + s + b"\x00" + q
    )
    return encode_header(QUERY_EVENT, len(body), **hdr) + body


def parse_rotate(body: bytes) -> dict:
    """ROTATE: uint64 position in the next file + the next file's name —
    the offset-tracking handoff (handleRotateLogsEvent dispatches it to
    reset the offset context's binlog filename)."""
    (position,) = struct.unpack_from("<Q", body, 0)
    return {
        "kind": "rotate",
        "position": position,
        "next_file": body[8:].decode("utf-8"),
    }


def encode_rotate(position: int, next_file: str, **hdr) -> bytes:
    body = struct.pack("<Q", position) + next_file.encode("utf-8")
    return encode_header(ROTATE_EVENT, len(body), **hdr) + body


def parse_gtid(body: bytes) -> dict:
    """GTID: uint8 flags, 16-byte source-server UUID, int64 transaction
    number — the global transaction id Debezium records per offset
    (GtidEventDataDeserializer in the reference's deserializer wiring)."""
    import uuid

    flags = body[0]
    sid = str(uuid.UUID(bytes=bytes(body[1:17])))
    (gno,) = struct.unpack_from("<q", body, 17)
    return {"kind": "gtid", "flags": flags, "source_id": sid, "gno": gno,
            "gtid": f"{sid}:{gno}"}


def encode_gtid(source_id: str, gno: int, flags: int = 1, **hdr) -> bytes:
    import uuid

    body = bytes([flags]) + uuid.UUID(source_id).bytes + struct.pack(
        "<q", gno
    )
    return encode_header(GTID_EVENT, len(body), **hdr) + body


def parse_mariadb_gtid(body: bytes, server_id: int) -> dict:
    """MariaDB GTID (event 0xa2): uint64 sequence number, uint32 domain
    id, uint8 flags2 — the gtid renders as domain-server-sequence (the
    MariaDB adapter path in the reference's binlog family; server id
    comes from the event header). FL_GROUP_COMMIT_ID (0x02) appends a
    uint64 commit id."""
    seq, domain = struct.unpack_from("<QI", body, 0)
    flags2 = body[12]
    out = {
        "kind": "gtid",
        "flags": flags2,
        "domain_id": domain,
        "gno": seq,
        "gtid": f"{domain}-{server_id}-{seq}",
    }
    if flags2 & 0x02:
        out["commit_id"] = struct.unpack_from("<Q", body, 13)[0]
    return out


def encode_mariadb_gtid(
    domain: int, seq: int, flags2: int = 0, commit_id: int | None = None,
    **hdr,
) -> bytes:
    body = struct.pack("<QI", seq, domain) + bytes([flags2])
    if commit_id is not None:
        body += struct.pack("<Q", commit_id)
    return encode_header(MARIADB_GTID_EVENT, len(body), **hdr) + body


def parse_xid(body: bytes) -> dict:
    return {"kind": "xid", "xid": struct.unpack_from("<Q", body, 0)[0]}


def encode_xid(xid: int, **hdr) -> bytes:
    return encode_header(XID_EVENT, 8, **hdr) + struct.pack("<Q", xid)


def parse_server_stop(body: bytes) -> dict:
    """STOP: empty body, written when the primary shuts down cleanly —
    the reference's handler is a debug-log no-op
    (handleServerStop:690-692); surfaced as a marker so operators can
    see the shutdown boundary."""
    return {"kind": "server_stop"}


def parse_heartbeat(body: bytes) -> dict:
    """HEARTBEAT (type 27): primary->replica liveness carrying the
    current binlog file name; never written to the log file. The
    reference dispatches a connector heartbeat on it
    (handleServerHeartbeat:700-703) — the marker row is this engine's
    hook for the same liveness signal (streaming/reliability.Heartbeat).
    INCIDENT, the third server handler (:712), is a client-LIBRARY
    artifact wrapping deserialization failures — this engine parses raw
    bytes itself, so that failure class surfaces as the codec's own
    ValueError/DLQ path instead."""
    return {"kind": "server_heartbeat", "log_file": body.decode("utf-8")}


def encode_server_stop(**hdr) -> bytes:
    return encode_header(STOP_EVENT, 0, **hdr)


def encode_heartbeat(log_file: str, **hdr) -> bytes:
    b = log_file.encode("utf-8")
    return encode_header(HEARTBEAT_EVENT, len(b), **hdr) + b


def parse_rows_query(body: bytes) -> dict:
    """ROWS_QUERY (include.query): one ignored length byte, then the
    originating SQL — the statement text the reference copies into the
    following rows events' source.query when
    binlog_rows_query_log_events=ON (handleRecordingQuery,
    MySqlStreamingChangeEventSource.java:124-130; the handler is only
    registered under the config, BinlogStreamingChangeEventSource.java:
    224-228). The leading byte is the historical truncated length —
    every decoder skips it and reads the remainder."""
    return {"kind": "rows_query", "query": body[1:].decode("utf-8")}


def encode_rows_query(query: str, **hdr) -> bytes:
    q = query.encode("utf-8")
    body = bytes([min(len(q), 255)]) + q
    return encode_header(ROWS_QUERY_EVENT, len(body), **hdr) + body


def parse_annotate_rows(body: bytes) -> dict:
    """MariaDB ANNOTATE_ROWS: the body IS the statement text (the
    MariaDB flavor of include.query — MariaDbStreamingChangeEventSource
    .java:117-137 reads AnnotateRowsEventData.getRowsQuery())."""
    return {"kind": "rows_query", "query": body.decode("utf-8")}


def encode_annotate_rows(query: str, **hdr) -> bytes:
    q = query.encode("utf-8")
    return encode_header(MARIADB_ANNOTATE_ROWS_EVENT, len(q), **hdr) + q


def parse_xa_prepare(body: bytes) -> dict:
    """XA_PREPARE: one-phase flag + the xid triple (formatID,
    gtrid, bqual). The reference registers the handler but treats the
    boundary as a no-op (prepareTransaction,
    BinlogStreamingChangeEventSource.java:221,1062-1070 — debug log
    only); the parse surfaces the boundary so downstream can observe
    prepare/commit bracketing without changing tx semantics. xid_text
    renders MySQL's X'gtrid',X'bqual',formatID form."""
    one_phase = bool(body[0])
    fmt, glen, blen = struct.unpack_from("<iII", body, 1)
    data = body[13:13 + glen + blen]
    if len(data) < glen + blen:
        raise ValueError("truncated XA_PREPARE xid data")
    gtrid, bqual = data[:glen], data[glen:]
    return {
        "kind": "xa_prepare",
        "one_phase": one_phase,
        "format_id": fmt,
        "gtrid": gtrid,
        "bqual": bqual,
        "xid_text": f"X'{gtrid.hex()}',X'{bqual.hex()}',{fmt}",
    }


def encode_xa_prepare(
    gtrid: bytes, bqual: bytes = b"", format_id: int = 1,
    one_phase: bool = False, **hdr,
) -> bytes:
    body = (
        bytes([1 if one_phase else 0])
        + struct.pack("<iII", format_id, len(gtrid), len(bqual))
        + gtrid + bqual
    )
    return encode_header(XA_PREPARE_EVENT, len(body), **hdr) + body


def parse_view_change(body: bytes) -> dict:
    """VIEW_CHANGE (group replication): 40-byte view id + uint64
    sequence number (certification info skipped). The reference
    registers the handler as an explicit no-op (viewChange,
    BinlogStreamingChangeEventSource.java:220,1051-1059) — parsed here
    and surfaced as a marker row so membership boundaries are
    observable without changing row semantics."""
    view_id = body[:40].split(b"\x00", 1)[0].decode("utf-8")
    (seq,) = struct.unpack_from("<Q", body, 40)
    return {"kind": "view_change", "view_id": view_id, "seq": seq}


def encode_view_change(view_id: str, seq: int, **hdr) -> bytes:
    body = view_id.encode("utf-8").ljust(40, b"\x00") + struct.pack(
        "<Q", seq
    )
    return encode_header(VIEW_CHANGE_EVENT, len(body), **hdr) + body


def parse_event(buf: bytes, registry: dict) -> dict:
    """One full event (header + payload) → dict; unknown event types
    return kind='skip' with the header fields (the reference's dispatch
    ignores unregistered handlers)."""
    hdr = parse_header(buf)
    body = buf[HEADER_LEN:]
    code = hdr["type_code"]
    if code == TABLE_MAP_EVENT:
        out = parse_table_map(body)
    elif code in (WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT):
        out = parse_rows_event(body, code, registry)
    elif code == QUERY_EVENT:
        out = parse_query(body)
    elif code == XID_EVENT:
        out = parse_xid(body)
    elif code == ROTATE_EVENT:
        out = parse_rotate(body)
    elif code == GTID_EVENT:
        out = parse_gtid(body)
    elif code == TRANSACTION_PAYLOAD_EVENT:
        out = parse_transaction_payload(body, registry)
    elif code == ROWS_QUERY_EVENT:
        out = parse_rows_query(body)
    elif code == STOP_EVENT:
        out = parse_server_stop(body)
    elif code == HEARTBEAT_EVENT:
        out = parse_heartbeat(body)
    elif code == MARIADB_ANNOTATE_ROWS_EVENT:
        out = parse_annotate_rows(body)
    elif code == XA_PREPARE_EVENT:
        out = parse_xa_prepare(body)
    elif code == VIEW_CHANGE_EVENT:
        out = parse_view_change(body)
    elif code == MARIADB_GTID_EVENT:
        out = parse_mariadb_gtid(body, hdr["server_id"])
    else:
        out = {"kind": "skip"}
    out["log_pos"] = hdr["log_pos"]
    out["timestamp"] = hdr["timestamp"]
    out["server_id"] = hdr["server_id"]
    return out


# ---------------------------------------------------------------------------
# vectorized rows-event decode (r13 optimization round)
#
# The per-row ``parse_event`` walk costs ~4.5 s of single-core Python per
# 100k rows events (profiled: the ``_read_value`` type switch +
# ``_bitmap_get`` + decimal/temporal rendering dominate). The fast path
# below decodes a batch's WRITE/UPDATE/DELETE_ROWS subset entirely in
# numpy over the Arrow binary buffers — O(columns) gather passes per
# image, digit-matrix rendering for temporals/decimals, one flat byte
# gather per string column — following the ``_decode_data_vectorized``
# template in sources/pgoutput.py. TRANSACTION_PAYLOAD events decompress
# ONCE per payload and their embedded single-row rows events batch into
# the same vectorized group decode (markers/maps inside the payload keep
# the sequential replay semantics: registration order, statement
# threading). Other non-rows messages still parse through the exact
# per-row path and the outputs re-interleave in (message, embedded
# event) order, so mixed streams keep their semantics. JSON columns
# decode per-cell through the exact row-path JSONB renderer (the tree
# walk has no vector form) without dropping the rest of the batch off
# the fast path. ANY shape outside the vectorized slice (multi-row
# events, out-of-range temporals, >18-digit decimal halves, malformed
# lengths) raises, and the caller re-runs the WHOLE batch through the
# per-row path, which reports the reference's exact error.
# ---------------------------------------------------------------------------
def _gather_le(data, offs, width):
    """Little-endian unsigned gather of ``width``-byte ints -> uint64."""
    import numpy as np

    v = np.zeros(len(offs), dtype=np.uint64)
    for k in range(width):
        v |= data[offs + k].astype(np.uint64) << np.uint64(8 * k)
    return v


def _gather_be(data, offs, width):
    """Big-endian unsigned gather of ``width``-byte ints -> uint64."""
    import numpy as np

    v = np.zeros(len(offs), dtype=np.uint64)
    for k in range(width):
        v = (v << np.uint64(8)) | data[offs + k].astype(np.uint64)
    return v


def _gather_bytes(data, offs, width):
    """(n, width) byte matrix at per-row ``offs``; indices clip to the
    buffer end so ragged tails never fault — callers mask the excess."""
    import numpy as np

    idx = offs[:, None] + np.arange(width, dtype=np.int64)[None, :]
    return data[np.minimum(idx, len(data) - 1)]


def _gather_var(data, offs, lens):
    """Flat gather of per-row variable slices -> (flat bytes, ends) where
    ``ends`` is the n+1 exclusive cumulative offsets into the flat."""
    import numpy as np

    ends = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=ends[1:])
    total = int(ends[-1])
    flat_idx = (
        np.repeat(offs - ends[:-1], lens) + np.arange(total, dtype=np.int64)
    )
    return data[flat_idx], ends


def _utf8_from_flat(flat, ends, valid):
    """Arrow utf8 over a gathered flat buffer; ``validate(full=True)``
    enforces the row path's strict-UTF-8 contract (invalid input raises,
    the caller falls back, the per-row ``.decode`` reports the error).
    Returns an object ndarray with None at invalid rows."""
    import numpy as np
    import pyarrow as pa

    if ends[-1] > np.iinfo(np.int32).max:
        raise ValueError("string payload exceeds 2 GiB per batch")
    arr = pa.Array.from_buffers(
        pa.utf8(),
        len(valid),
        [
            pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()),
            pa.py_buffer(ends.astype(np.int32).tobytes()),
            pa.py_buffer(flat.tobytes()),
        ],
        null_count=int(len(valid) - valid.sum()),
    )
    arr.validate(full=True)
    return arr.to_numpy(zero_copy_only=False)


_HEX_LUT = b"0123456789abcdef"


def _hex_from_flat(flat, ends, valid):
    """bytes.hex() text form, vectorized: two ASCII chars per byte."""
    import numpy as np

    lut = np.frombuffer(_HEX_LUT, dtype=np.uint8)
    out = np.empty((len(flat), 2), dtype=np.uint8)
    out[:, 0] = lut[flat >> 4]
    out[:, 1] = lut[flat & 0x0F]
    return _utf8_from_flat(out.reshape(-1), ends * 2, valid)


def _put_digits(mat, col, v, ndig):
    """Zero-padded ``ndig``-digit ASCII rendering of int64 ``v`` into
    mat[:, col:col+ndig] (the f"{v:0Nd}" contract for non-negative v)."""
    for k in range(ndig - 1, -1, -1):
        mat[:, col + k] = (v % 10 + 48).astype("uint8")
        v = v // 10


def _mat_to_strs(mat):
    """Fixed-width ASCII char matrix -> unicode ndarray."""
    import numpy as np

    ln = mat.shape[1]
    return np.frombuffer(mat.tobytes(), dtype=f"S{ln}").astype("U")


def _be_mat(m, pos, width):
    """Big-endian int64 over columns [pos, pos+width) of a byte matrix."""
    import numpy as np

    v = np.zeros(m.shape[0], dtype=np.int64)
    for k in range(width):
        v = v * 256 + m[:, pos + k].astype(np.int64)
    return v


def _frac_digits(mat, col, micros, fsp):
    """The f"{micros:06d}"[:fsp] tail digits into mat[:, col:col+fsp]."""
    for k in range(fsp):
        mat[:, col + k] = (micros // 10 ** (5 - k) % 10 + 48).astype("uint8")


def _walk_image_vec(data, off, ends, present, tm):
    """Vectorized walk of ONE row image for messages sharing a TABLE_MAP:
    null bitmap over the present columns, then a gather pass per column.
    Returns (texts, nums, nums_valid, end_off): ``texts`` the (n, ncols)
    object matrix of the exact ``to_text`` rendering, ``nums`` the
    FLOAT/DOUBLE numeric dual. Raises ValueError for anything outside the
    vectorized slice."""
    import numpy as np

    types, metas = tm["types"], tm["metas"]
    uns = tm.get("unsigned")
    el = tm.get("enum_labels_by_col") or {}
    sl = tm.get("set_labels_by_col") or {}
    n, ncols = present.shape

    n_present = present.sum(axis=1)
    nb_len = (n_present + 7) // 8
    nb_max = int(nb_len.max()) if n else 0
    if nb_max:
        bits = np.unpackbits(
            _gather_bytes(data, off, nb_max), axis=1, bitorder="little"
        )
        rank = np.cumsum(present, axis=1) - present  # 0-based among present
        null = present & np.take_along_axis(
            bits, np.minimum(rank, nb_max * 8 - 1), axis=1
        ).astype(bool)
    else:
        null = np.zeros_like(present)
    off = off + nb_len

    texts = np.empty((n, ncols), dtype=object)
    nums = np.zeros((n, ncols), dtype=np.float64)
    nums_valid = np.zeros((n, ncols), dtype=bool)

    for j in range(ncols):
        t, meta = types[j], metas[j]
        u = bool(uns[j]) if uns else False
        has = present[:, j] & ~null[:, j]
        safe = np.where(has, off, 0)

        if t in (TYPE_TINY, TYPE_SHORT, TYPE_INT24, TYPE_LONG,
                 TYPE_LONGLONG):
            w = {TYPE_TINY: 1, TYPE_SHORT: 2, TYPE_INT24: 3,
                 TYPE_LONG: 4, TYPE_LONGLONG: 8}[t]
            raw = _gather_le(data, safe, w)
            if t == TYPE_LONGLONG:
                txt = (raw if u else raw.view(np.int64)).astype("U20")
            else:
                v = raw.astype(np.int64)
                if not u:
                    half = np.int64(1) << (8 * w - 1)
                    v = np.where(v >= half, v - (half << 1), v)
                txt = v.astype("U20")
            texts[has, j] = txt[has]
        elif t == TYPE_FLOAT:
            w = 4
            f = _gather_le(data, safe, 4).astype(np.uint32).view(np.float32)
            nums[has, j] = f.astype(np.float64)[has]
            nums_valid[has, j] = True
        elif t == TYPE_DOUBLE:
            w = 8
            f = _gather_le(data, safe, 8).view(np.float64)
            nums[has, j] = f[has]
            nums_valid[has, j] = True
        elif t == TYPE_YEAR:
            w = 1
            b = data[safe].astype(np.int64)
            y = np.where(b == 0, 0, 1900 + b)
            texts[has, j] = y.astype("U4")[has]
        elif t == TYPE_BIT:
            w = (meta + 7) // 8
            if w > 8:
                raise ValueError("BIT wider than 64 outside the "
                                 "vectorized slice")
            texts[has, j] = _gather_be(data, safe, w).astype("U20")[has]
        elif t == TYPE_DATE:
            w = 3
            v = _gather_le(data, safe, 3).astype(np.int64)
            y, mo, d = (v >> 9) & 0x7FFF, (v >> 5) & 0x0F, v & 0x1F
            if has.any() and int(y[has].max()) > 9999:
                raise ValueError("5-digit year outside the vectorized "
                                 "slice")
            mat = np.empty((n, 10), dtype=np.uint8)
            _put_digits(mat, 0, y, 4)
            mat[:, 4] = ord("-")
            _put_digits(mat, 5, mo, 2)
            mat[:, 7] = ord("-")
            _put_digits(mat, 8, d, 2)
            texts[has, j] = _mat_to_strs(mat)[has]
        elif t == TYPE_TIMESTAMP2:
            fb = _fsp_bytes(meta)
            w = 4 + fb
            secs = _gather_be(data, safe, 4).astype(np.int64)
            micros = (
                _gather_be(data, safe + 4, fb).astype(np.int64)
                * 10 ** (6 - 2 * fb) if fb else 0
            )
            texts[has, j] = (secs * 1_000_000 + micros).astype("U20")[has]
        elif t == TYPE_DATETIME2:
            fsp = meta
            fb = _fsp_bytes(fsp)
            w = 5 + fb
            v = _gather_be(data, safe, 5).astype(np.int64) - 0x80_0000_0000
            if has.any() and int(v[has].min()) < 0:
                raise ValueError("pre-epoch DATETIME2 outside the "
                                 "vectorized slice")
            ym = (v >> 22) & 0x1FFFF
            y = ym // 13
            if has.any() and int(y[has].max()) > 9999:
                raise ValueError("5-digit year outside the vectorized "
                                 "slice")
            micros = (
                _gather_be(data, safe + 5, fb).astype(np.int64)
                * 10 ** (6 - 2 * fb) if fb else np.zeros(n, dtype=np.int64)
            )
            ln = 19 + (1 + fsp if fsp else 0)
            mat = np.empty((n, ln), dtype=np.uint8)
            _put_digits(mat, 0, y, 4)
            mat[:, 4] = ord("-")
            _put_digits(mat, 5, ym % 13, 2)
            mat[:, 7] = ord("-")
            _put_digits(mat, 8, (v >> 17) & 0x1F, 2)
            mat[:, 10] = ord(" ")
            _put_digits(mat, 11, (v >> 12) & 0x1F, 2)
            mat[:, 13] = ord(":")
            _put_digits(mat, 14, (v >> 6) & 0x3F, 2)
            mat[:, 16] = ord(":")
            _put_digits(mat, 17, v & 0x3F, 2)
            if fsp:
                mat[:, 19] = ord(".")
                _frac_digits(mat, 20, micros, fsp)
            texts[has, j] = _mat_to_strs(mat)[has]
        elif t == TYPE_TIME2:
            fsp = meta
            fb = _fsp_bytes(fsp)
            w = 3 + fb
            v = _gather_be(data, safe, 3).astype(np.int64) - 0x80_0000
            if has.any() and int(v[has].min()) < 0:
                raise ValueError("negative TIME2 outside the vectorized "
                                 "slice")
            hh = (v >> 12) & 0x3FF
            if has.any() and int(hh[has].max()) > 99:
                raise ValueError("3-digit hour outside the vectorized "
                                 "slice")
            micros = (
                _gather_be(data, safe + 3, fb).astype(np.int64)
                * 10 ** (6 - 2 * fb) if fb else np.zeros(n, dtype=np.int64)
            )
            ln = 8 + (1 + fsp if fsp else 0)
            mat = np.empty((n, ln), dtype=np.uint8)
            _put_digits(mat, 0, hh, 2)
            mat[:, 2] = ord(":")
            _put_digits(mat, 3, (v >> 6) & 0x3F, 2)
            mat[:, 5] = ord(":")
            _put_digits(mat, 6, v & 0x3F, 2)
            if fsp:
                mat[:, 8] = ord(".")
                _frac_digits(mat, 9, micros, fsp)
            texts[has, j] = _mat_to_strs(mat)[has]
        elif t == TYPE_NEWDECIMAL:
            prec, scale = meta >> 8, meta & 0xFF
            intg = prec - scale
            if intg > 18 or scale > 18:
                raise ValueError(">18-digit decimal half outside the "
                                 "vectorized slice")
            w = _newdecimal_len(prec, scale)
            m = _gather_bytes(data, safe, w).copy()
            neg = (m[:, 0] & 0x80) == 0
            m[:, 0] ^= 0x80
            m[neg] ^= 0xFF
            intg0, intg0x = divmod(intg, 9)
            frac0, frac0x = divmod(scale, 9)
            pos = 0
            ival = np.zeros(n, dtype=np.int64)
            if intg0x:
                ival = _be_mat(m, pos, _DEC_DIG2BYTES[intg0x])
                pos += _DEC_DIG2BYTES[intg0x]
            for _ in range(intg0):
                ival = ival * 10**9 + _be_mat(m, pos, 4)
                pos += 4
            fval = np.zeros(n, dtype=np.int64)
            for _ in range(frac0):
                fval = fval * 10**9 + _be_mat(m, pos, 4)
                pos += 4
            if frac0x:
                fval = fval * 10**frac0x + _be_mat(
                    m, pos, _DEC_DIG2BYTES[frac0x]
                )
            txt = ival.astype("U20")
            if scale:
                txt = np.char.add(
                    np.char.add(txt, "."),
                    np.char.zfill(fval.astype("U20"), scale),
                )
            nonzero = (ival != 0) | (fval != 0)
            txt = np.where(neg & nonzero, np.char.add("-", txt), txt)
            texts[has, j] = txt[has]
        elif t == TYPE_VARCHAR:
            pw = 1 if meta < 256 else 2
            raw_ln = (
                data[safe].astype(np.int64) if pw == 1
                else _gather_le(data, safe, 2).astype(np.int64)
            )
            ln = np.where(has, raw_ln, 0)
            if (np.where(has, off + pw + ln, 0) > ends).any():
                raise ValueError("VARCHAR length past event end")
            flat, fends = _gather_var(data, safe + pw, ln)
            texts[:, j] = _utf8_from_flat(flat, fends, has)
            off = off + np.where(has, pw + ln, 0)
            continue
        elif t == TYPE_BLOB:
            pw = meta
            ln = np.where(
                has, _gather_le(data, safe, pw).astype(np.int64), 0
            )
            if (np.where(has, off + pw + ln, 0) > ends).any():
                raise ValueError("BLOB length past event end")
            flat, fends = _gather_var(data, safe + pw, ln)
            texts[:, j] = _hex_from_flat(flat, fends, has)
            off = off + np.where(has, pw + ln, 0)
            continue
        elif t == TYPE_JSON:
            # the JSONB tree walk has no vector form — decode THIS
            # column's cells through the exact row-path renderer while
            # every other column stays vectorized (previously one JSON
            # column dropped the whole batch to the per-row replay)
            from debezium_spark.sources.jsonb import jsonb_to_text

            pw = meta
            ln = np.where(
                has, _gather_le(data, safe, pw).astype(np.int64), 0
            )
            if (np.where(has, off + pw + ln, 0) > ends).any():
                raise ValueError("JSON length past event end")
            cs = safe + pw
            idx = np.nonzero(has)[0]
            texts[idx, j] = [
                jsonb_to_text(data[cs[i]:cs[i] + ln[i]].tobytes())
                for i in idx
            ]
            off = off + np.where(has, pw + ln, 0)
            continue
        elif t == TYPE_STRING:
            real, w = meta >> 8, meta & 0xFF
            if real not in (ENUM_REAL, SET_REAL):
                raise ValueError("STRING real type outside the "
                                 "vectorized slice")
            v = _gather_le(data, safe, w).astype(np.int64)
            labels = el.get(j) if real == ENUM_REAL else sl.get(j)
            if labels is None:
                texts[has, j] = v.astype("U20")[has]
            elif real == ENUM_REAL:
                sub = v[has]
                if len(sub) and not (
                    (sub >= 0) & (sub <= len(labels))
                ).all():
                    raise ValueError("enum ordinal outside the declared "
                                     "labels")
                lut = np.array([""] + list(labels), dtype=object)
                texts[has, j] = lut[sub]
            else:
                sub = v[has]
                if len(sub) and (sub >> len(labels)).any():
                    raise ValueError("set bitmask past the declared "
                                     "labels")
                if len(sub):
                    uq, inv = np.unique(sub, return_inverse=True)
                    rendered = np.array(
                        [
                            ",".join(
                                lab for b, lab in enumerate(labels)
                                if (int(q) >> b) & 1
                            )
                            for q in uq
                        ],
                        dtype=object,
                    )
                    texts[has, j] = rendered[inv]
        else:
            raise ValueError(
                f"column type {t} outside the vectorized slice"
            )
        off = off + np.where(has, w, 0)
        if (off > ends).any():
            raise ValueError("image walk past event end")
    return texts, nums, nums_valid, off


_ROWS_OPS = {WRITE_ROWS_EVENT: "c", UPDATE_ROWS_EVENT: "u",
             DELETE_ROWS_EVENT: "d"}


def _list_utf8(texts):
    import numpy as np
    import pyarrow as pa

    n, ncols = texts.shape
    child = pa.array(texts.ravel(), type=pa.utf8())
    offs = pa.array(
        np.arange(0, (n + 1) * ncols, ncols, dtype=np.int32)
    )
    return pa.ListArray.from_arrays(offs, child)


def _list_f64(vals, valid):
    import numpy as np
    import pyarrow as pa

    n, ncols = vals.shape
    child = pa.array(vals.ravel(), type=pa.float64(), mask=~valid.ravel())
    offs = pa.array(
        np.arange(0, (n + 1) * ncols, ncols, dtype=np.int32)
    )
    return pa.ListArray.from_arrays(offs, child)


def _list_bool(mat):
    import numpy as np
    import pyarrow as pa

    n, ncols = mat.shape
    child = pa.array(mat.ravel())
    offs = pa.array(
        np.arange(0, (n + 1) * ncols, ncols, dtype=np.int32)
    )
    return pa.ListArray.from_arrays(offs, child)


def _binlog_arrow_schema(include_query):
    import pyarrow as pa

    fields = [
        ("log_pos", pa.int64()),
        ("kind", pa.utf8()),
        ("schema", pa.utf8()),
        ("table", pa.utf8()),
        ("before", pa.list_(pa.utf8())),
        ("after", pa.list_(pa.utf8())),
        ("before_nums", pa.list_(pa.float64())),
        ("after_nums", pa.list_(pa.float64())),
        ("before_present", pa.list_(pa.bool_())),
        ("after_present", pa.list_(pa.bool_())),
    ]
    if include_query:
        fields.append(("query", pa.utf8()))
    return pa.schema(fields)


def _decode_rows_group(data, starts, ends, type_code, tm, include_query,
                       queries=None):
    """Vectorized decode of one (table_id, event type) group of
    SINGLE-ROW rows events -> RecordBatch (one output row per event).
    ``queries`` (payload-embedded events only) carries the per-event
    statement threaded from the transaction's ROWS_QUERY markers."""
    import numpy as np
    import pyarrow as pa

    ncols = len(tm["types"])
    n = len(starts)
    log_pos = _gather_le(data, starts + 13, 4).astype(np.int64)
    b0 = starts + HEADER_LEN
    extra_len = _gather_le(data, b0 + 8, 2).astype(np.int64)
    off = b0 + 8 + extra_len
    ncb = data[np.minimum(off, len(data) - 1)]
    if (ncb >= 0xFB).any() or (ncb != ncols).any():
        raise ValueError("rows event column count outside the "
                         "vectorized slice")
    off = off + 1
    bm_len = (ncols + 7) // 8
    present = np.unpackbits(
        _gather_bytes(data, off, bm_len), axis=1, bitorder="little"
    )[:, :ncols].astype(bool)
    off = off + bm_len
    if type_code == UPDATE_ROWS_EVENT:
        present_after = np.unpackbits(
            _gather_bytes(data, off, bm_len), axis=1, bitorder="little"
        )[:, :ncols].astype(bool)
        off = off + bm_len
    else:
        present_after = present

    null_list = lambda t: pa.nulls(n, type=t)  # noqa: E731
    if type_code == WRITE_ROWS_EVENT:
        at, an, av, off = _walk_image_vec(data, off, ends, present, tm)
        before = null_list(pa.list_(pa.utf8()))
        before_nums = null_list(pa.list_(pa.float64()))
        after, after_nums = _list_utf8(at), _list_f64(an, av)
        bp = null_list(pa.list_(pa.bool_()))
        ap = _list_bool(present)
    elif type_code == DELETE_ROWS_EVENT:
        bt, bn, bv, off = _walk_image_vec(data, off, ends, present, tm)
        before, before_nums = _list_utf8(bt), _list_f64(bn, bv)
        after = null_list(pa.list_(pa.utf8()))
        after_nums = null_list(pa.list_(pa.float64()))
        bp = _list_bool(present)
        ap = null_list(pa.list_(pa.bool_()))
    else:
        bt, bn, bv, off = _walk_image_vec(data, off, ends, present, tm)
        at, an, av, off = _walk_image_vec(
            data, off, ends, present_after, tm
        )
        before, before_nums = _list_utf8(bt), _list_f64(bn, bv)
        after, after_nums = _list_utf8(at), _list_f64(an, av)
        bp, ap = _list_bool(present), _list_bool(present_after)
    if (off != ends).any():
        raise ValueError("multi-row event outside the vectorized slice")

    op = _ROWS_OPS[type_code]
    cols = [
        pa.array(log_pos),
        pa.array(np.repeat(np.array([op], dtype=object), n),
                 type=pa.utf8()),
        pa.array(np.repeat(np.array([tm["schema"]], dtype=object), n),
                 type=pa.utf8()),
        pa.array(np.repeat(np.array([tm["table"]], dtype=object), n),
                 type=pa.utf8()),
        before,
        after,
        before_nums,
        after_nums,
        bp,
        ap,
    ]
    if include_query:
        # top-level rows events carry no statement state (the per-message
        # `cur` slot starts None); payload-embedded events pass the
        # statement their transaction's walk threaded to them
        cols.append(
            pa.array(queries, type=pa.utf8())
            if queries is not None
            else pa.nulls(n, type=pa.utf8())
        )
    return pa.RecordBatch.from_arrays(
        cols, schema=_binlog_arrow_schema(include_query)
    )


def _emit_event(ev, out, cur, include_query):
    """One parsed event -> output tuples (the exact per-row semantics;
    shared by the row path and the vectorized path's non-rows subset)."""
    tail = ((cur[0],) if include_query else ())
    if ev["kind"] in ("write_rows", "update_rows", "delete_rows"):
        op = {"write_rows": "c", "update_rows": "u",
              "delete_rows": "d"}[ev["kind"]]
        el = ev.get("_enum_labels")
        sl = ev.get("_set_labels")
        for row in ev["rows"]:
            out.append(
                (
                    ev["log_pos"],
                    op,
                    ev["schema"],
                    ev["table"],
                    _to_text(row["before"], el, sl),
                    _to_text(row["after"], el, sl),
                    _to_num(row["before"]),
                    _to_num(row["after"]),
                    ev["before_present"],
                    ev["after_present"],
                ) + tail
            )
    elif ev["kind"] in ("query", "xid", "xa_prepare", "view_change",
                        "rows_query", "server_stop", "server_heartbeat"):
        if ev["kind"] == "rows_query":
            if not include_query:
                return  # config off: handler never registered
            cur[0] = ev["query"]
            # the marker row carries the statement it ANNOUNCES, not the
            # previous one — recompute the tail after the state update so
            # marker.query == marker.after[0]
            tail = (cur[0],)
            marker = [ev["query"]]
        elif ev["kind"] == "query":
            marker = [ev["query"]]
        elif ev["kind"] == "xid":
            marker = [str(ev["xid"])]
        elif ev["kind"] == "xa_prepare":
            marker = [ev["xid_text"]]
        elif ev["kind"] == "view_change":
            marker = [ev["view_id"]]
        elif ev["kind"] == "server_heartbeat":
            marker = [ev["log_file"]]
        else:
            marker = []  # server_stop: boundary only
        out.append(
            (
                ev["log_pos"],
                ev["kind"],
                ev.get("schema"),
                None,
                None,
                marker,
                None,
                None,
                None,
                None,
            ) + tail
        )
        if ev["kind"] == "xid":
            # tx completion resets the recorded statement
            # (BinlogOffsetContext resets sourceInfo's query the same way
            # at transaction end)
            cur[0] = None
    elif ev["kind"] == "transaction_payload":
        # the reference's handleTransactionPayload: replay every embedded
        # event through the normal dispatch (:992-999)
        for emb in ev["events"]:
            _emit_event(emb, out, cur, include_query)


def _to_text(vals, enum_labels=None, set_labels=None):
    if vals is None:
        return None
    out = []
    for i, v in enumerate(vals):
        if v is None or isinstance(v, float):
            out.append(None)  # DOUBLEs surface in *_nums only
        elif isinstance(v, str):
            out.append(v)
        elif isinstance(v, bytes):
            out.append(v.hex())  # BLOB/TEXT: hex text form
        elif enum_labels and i in enum_labels:
            # wire ordinal -> ENUM_STR_VALUE label (1-based; 0 is MySQL's
            # invalid-value empty string)
            labels = enum_labels[i]
            v = int(v)
            if not 0 <= v <= len(labels):
                raise ValueError(
                    f"enum ordinal {v} outside the {len(labels)} "
                    "wire-declared labels"
                )
            out.append("" if v == 0 else labels[v - 1])
        elif set_labels and i in set_labels:
            # bitmask -> comma-joined SET_STR_VALUE labels (the
            # reference's EnumSet text form)
            labels = set_labels[i]
            v = int(v)
            if v >> len(labels):
                raise ValueError(
                    f"set bitmask {v:#x} has bits past the "
                    f"{len(labels)} wire-declared labels"
                )
            out.append(",".join(
                lab for b, lab in enumerate(labels) if v >> b & 1
            ))
        else:
            out.append(str(int(v)))
    return out


def _to_num(vals):
    if vals is None:
        return None
    return [float(v) if isinstance(v, float) else None for v in vals]


def _attach_labels(ev, registry):
    """Stamp the enum/set label tables the emit's to_text needs onto a
    parsed rows event (also inside replayed payload events)."""
    if ev["kind"] in ("write_rows", "update_rows", "delete_rows"):
        tm = registry.get(ev["table_id"], {})
        ev["_enum_labels"] = tm.get("enum_labels_by_col")
        ev["_set_labels"] = tm.get("set_labels_by_col")
    elif ev["kind"] == "transaction_payload":
        for emb in ev["events"]:
            _attach_labels(emb, registry)
    return ev


def _batch_from_tuples(tuples, include_query):
    import pyarrow as pa

    schema = _binlog_arrow_schema(include_query)
    if not tuples:
        return pa.RecordBatch.from_arrays(
            [pa.array([], type=f.type) for f in schema], schema=schema
        )
    cols = list(zip(*tuples))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(list(c), type=f.type)
            for c, f in zip(cols, schema)
        ],
        schema=schema,
    )


def _rows_batch_rowpath(msgs, registry, include_query):
    """Exact per-row decode of a whole batch (the fallback path; raises
    the reference's precise errors for malformed input)."""
    out = []
    for raw in msgs:
        _emit_event(
            _attach_labels(parse_event(bytes(raw), registry), registry),
            out, [None], include_query,
        )
    return _batch_from_tuples(out, include_query)


#: output-order key stride: message index * SHIFT + embedded sequence
#: (a payload's embedded events order within their message; int64-safe
#: for batches up to 2^31 messages / payloads with FEWER than 2^32
#: embedded events — the walk below guards seq < SHIFT and falls back
#: to the per-row path on the theoretical overflow)
_ORDER_SHIFT = 1 << 32


def _decode_rows_batch_vectorized(msg_arr, registry, include_query):
    """One mixed Arrow batch -> one RecordBatch: the rows-event subset —
    top-level AND TRANSACTION_PAYLOAD-embedded (each payload decompressed
    once, its walk replayed for markers/maps/statement threading, its
    single-row rows events batched into the same group decode) — decodes
    vectorized, everything else rides the per-row path, and the outputs
    re-interleave in (message, embedded-event) order. Raises when the
    rows subset leaves the vectorized slice."""
    import numpy as np
    import pyarrow as pa

    if msg_arr.null_count:
        raise ValueError("null message")
    if not pa.types.is_binary(msg_arr.type):
        raise ValueError(f"unexpected arrow type {msg_arr.type}")
    o = msg_arr.offset
    offs = np.frombuffer(msg_arr.buffers()[1], dtype=np.int32)[
        o : o + len(msg_arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(msg_arr.buffers()[2], dtype=np.uint8)
    starts, ends = offs[:-1], offs[1:]
    n = len(starts)
    if n == 0:
        raise ValueError("empty batch")

    tcodes = data[np.minimum(starts + 4, len(data) - 1)]
    rows_mask = (
        (tcodes == WRITE_ROWS_EVENT)
        | (tcodes == UPDATE_ROWS_EVENT)
        | (tcodes == DELETE_ROWS_EVENT)
    ) & (ends - starts > HEADER_LEN + 10)
    pay_mask = tcodes == TRANSACTION_PAYLOAD_EVENT
    if not rows_mask.any() and not pay_mask.any():
        raise ValueError("no vectorizable rows events")

    batches: list = []
    # Output order key = message index * SHIFT + embedded sequence, so a
    # payload's embedded outputs interleave with everything else exactly
    # where the per-row replay would put them. Stable argsort keeps
    # concat order for equal keys (multiple outputs of one embedded
    # event can only come from a NESTED payload, which stays per-row).
    orders: list = []

    ridx = np.nonzero(rows_mask)[0]
    tids = _gather_le(data, starts[ridx] + HEADER_LEN, 6).astype(np.int64)
    gkey = tids * 256 + tcodes[ridx].astype(np.int64)
    for k in np.unique(gkey):
        sel = ridx[gkey == k]
        tid, tc = int(k) >> 8, int(k) & 0xFF
        tm = registry.get(tid)
        if tm is None:
            raise ValueError("rows event for unmapped table id")
        batches.append(
            _decode_rows_group(
                data, starts[sel], ends[sel], tc, tm, include_query
            )
        )
        orders.append(sel * _ORDER_SHIFT)

    # ---- TRANSACTION_PAYLOAD expansion: decompress each payload ONCE,
    # walk its embedded events in order (registering TABLE_MAPs and
    # threading the statement state exactly like the per-row replay), and
    # batch the embedded single-row rows events for the same vectorized
    # group decode as top-level ones. Exactness guards raise — and the
    # caller re-runs the whole batch through the per-row path, which
    # raises the reference's precise error — wherever the vectorized
    # ordering could diverge from the sequential replay: a rows event
    # whose table id is unmapped AT ITS POSITION in the walk, or an
    # embedded TABLE_MAP that REDEFINES an already-registered id.
    emb_chunks: list = []
    emb_lens: list = []
    emb_keys: list = []
    emb_order: list = []
    emb_query: list = []
    mk_out: list = []
    mk_order: list = []
    # real streams re-announce the SAME TABLE_MAP before every
    # transaction — parse each distinct body once per batch
    tm_cache: dict = {}
    for i in np.nonzero(pay_mask)[0]:
        cur = [None]
        body = data[starts[i] + HEADER_LEN:ends[i]].tobytes()
        for seq, raw in enumerate(_payload_raw_events(body)):
            code = raw[4]
            if seq >= _ORDER_SHIFT:  # pragma: no cover - 2^32 events
                raise ValueError(
                    "payload embeds too many events for the order-key "
                    "stride"
                )
            if code == TRANSACTION_PAYLOAD_EVENT:
                # A NESTED payload would route through parse_event ->
                # parse_transaction_payload, whose embedded TABLE_MAPs
                # register into the shared registry UNCONDITIONALLY —
                # bypassing the redefinition guard above, so a nested
                # redefinition could silently decode earlier payloads'
                # batched rows with the wrong map. Not a shape real
                # MySQL streams produce; fall back to the sequential
                # per-row replay, which threads the registry exactly.
                raise ValueError(
                    "nested TRANSACTION_PAYLOAD inside a payload"
                )
            key = int(i) * _ORDER_SHIFT + seq
            if code == TABLE_MAP_EVENT:
                mb = raw[HEADER_LEN:]
                if mb not in tm_cache:
                    tm = parse_table_map(mb)
                    old = registry.get(tm["table_id"])
                    if old is None:
                        registry[tm["table_id"]] = tm
                    elif old is not tm and {
                        k: v for k, v in old.items()
                        if k not in ("log_pos", "timestamp", "server_id")
                    } != tm:
                        raise ValueError(
                            "embedded TABLE_MAP redefines a registered "
                            "table id"
                        )
                    tm_cache[mb] = tm
            elif code in (
                WRITE_ROWS_EVENT, UPDATE_ROWS_EVENT, DELETE_ROWS_EVENT
            ) and len(raw) > HEADER_LEN + 10:
                tid = int.from_bytes(
                    raw[HEADER_LEN:HEADER_LEN + 6], "little"
                )
                if tid not in registry:
                    raise ValueError("rows event for unmapped table id")
                emb_chunks.append(raw)
                emb_lens.append(len(raw))
                emb_keys.append(tid * 256 + code)
                emb_order.append(key)
                emb_query.append(cur[0])
            else:
                before = len(mk_out)
                _emit_event(
                    _attach_labels(parse_event(raw, registry), registry),
                    mk_out, cur, include_query,
                )
                mk_order.extend([key] * (len(mk_out) - before))
    if emb_chunks:
        emb_data = np.frombuffer(b"".join(emb_chunks), dtype=np.uint8)
        el = np.asarray(emb_lens, dtype=np.int64)
        emb_ends = np.cumsum(el)
        emb_starts = emb_ends - el
        ekeys = np.asarray(emb_keys, dtype=np.int64)
        eorder = np.asarray(emb_order, dtype=np.int64)
        for k in np.unique(ekeys):
            sel = np.nonzero(ekeys == k)[0]
            tid, tc = int(k) >> 8, int(k) & 0xFF
            batches.append(
                _decode_rows_group(
                    emb_data, emb_starts[sel], emb_ends[sel], tc,
                    registry[tid], include_query,
                    queries=(
                        [emb_query[j] for j in sel]
                        if include_query else None
                    ),
                )
            )
            orders.append(eorder[sel])
    if mk_out:
        batches.append(_batch_from_tuples(mk_out, include_query))
        orders.append(np.array(mk_order, dtype=np.int64))

    nr_idx = np.nonzero(~rows_mask & ~pay_mask)[0]
    if len(nr_idx):
        out: list = []
        src: list = []
        for i in nr_idx:
            before = len(out)
            _emit_event(
                _attach_labels(
                    parse_event(data[starts[i]:ends[i]].tobytes(),
                                registry),
                    registry,
                ),
                out, [None], include_query,
            )
            src.extend([int(i) * _ORDER_SHIFT] * (len(out) - before))
        batches.append(_batch_from_tuples(out, include_query))
        orders.append(np.array(src, dtype=np.int64))
    if not batches:
        raise ValueError("no vectorizable rows events")

    tbl = pa.Table.from_batches(batches)
    order = np.concatenate(orders) if orders else np.array([], np.int64)
    perm = np.argsort(order, kind="stable")
    merged = tbl.take(perm).combine_chunks()
    out_batches = merged.to_batches()
    if len(out_batches) != 1:  # pragma: no cover - combine_chunks contract
        return pa.Table.from_batches(out_batches).combine_chunks().to_batches()[0]
    return out_batches[0]


def _rows_batch(msg_arr, registry, include_query):
    """Decode one Arrow batch of binlog events into a RecordBatch.

    The vectorized kernel takes the batch; a batch it declines goes whole
    to the per-row ``parse_event`` replay, which raises the reference's
    exact error for malformed input. Only the kernel's own decline reasons
    reroute: ``ValueError`` from its slice and exactness guards,
    ``IndexError`` from a read past the buffer, ``pa.ArrowInvalid`` from
    the strict UTF-8 validation. Any other exception is a bug and
    surfaces."""
    import pyarrow as pa

    if len(msg_arr) == 0:
        return _rows_batch_rowpath([], registry, include_query)
    if isinstance(msg_arr, pa.ChunkedArray):  # pragma: no cover
        msg_arr = msg_arr.combine_chunks()
    try:
        return _decode_rows_batch_vectorized(msg_arr, registry, include_query)
    except (ValueError, IndexError, pa.ArrowInvalid):
        pass
    return _rows_batch_rowpath(
        (v.as_py() for v in msg_arr), registry, include_query
    )


# ---------------------------------------------------------------------------
# distributed decode
# ---------------------------------------------------------------------------
def table_map_registry(
    df: DataFrame, msg_col: str = "msg"
) -> dict[int, dict]:
    """Parse the stream's TABLE_MAP events driver-side into
    ``{table_id: table_map}``. Real binlogs repeat a TABLE_MAP before
    every rows event — each repeat carrying a fresh header timestamp /
    log_pos — so the scan strips the 19-byte header and dedupes on the
    BODY (bounded by table count × schema changes) before collecting;
    distinct on the full message would dedupe nothing on a real stream
    and the collect would scale with stream length."""
    type_byte = F.expr(f"substring({msg_col}, 5, 1)")
    body = F.expr(f"substring({msg_col}, {HEADER_LEN + 1})").alias("body")
    plain = df.filter(type_byte == bytes([TABLE_MAP_EVENT])).select(body)
    # Compressed transactions hide their TABLE_MAPs inside the payload:
    # extract them DISTRIBUTED (decompress + emit only embedded map
    # bodies), so the driver collect stays bounded by distinct maps —
    # collecting whole payloads would pull the entire stream driver-side.
    payloads = df.filter(
        type_byte == bytes([TRANSACTION_PAYLOAD_EVENT])
    ).select(body)

    def extract_maps(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for b in pdf["body"]:
                for raw in _payload_raw_events(bytes(b)):
                    if raw[4] == TABLE_MAP_EVENT:
                        out.append(raw[HEADER_LEN:])
            yield pd.DataFrame({"body": out})

    emb = payloads.mapInPandas(extract_maps, "body binary")
    body_rows = plain.unionByName(emb).distinct().collect()
    registry: dict[int, dict] = {}
    for r in body_rows:
        tm = parse_table_map(bytes(r["body"]))
        registry[tm["table_id"]] = tm
    return registry


_ROW_SCHEMA = (
    "log_pos long, kind string, schema string, table string,"
    " before array<string>, after array<string>,"
    " before_nums array<double>, after_nums array<double>,"
    " before_present array<boolean>, after_present array<boolean>"
)


def decode_binlog_rows(
    df: DataFrame,
    msg_col: str = "msg",
    registry: dict[int, dict] | None = None,
    include_query: bool = False,
) -> DataFrame:
    """Arrow-batched decode of WRITE/UPDATE/DELETE_ROWS events into one
    output row per row-image pair. Values surface twice — text form
    (ints/strings rendered exactly) and numeric form (for DOUBLE/FLOAT
    columns; text would lose float bits) — the same dual the reference's
    value converters expose. Non-rows events pass through kind-only so
    tx markers (query BEGIN / xid / xa_prepare / view_change) stay
    joinable downstream.

    ``include_query`` mirrors the reference's include.query config: ON
    adds a ``query`` column carrying the originating SQL from
    ROWS_QUERY/ANNOTATE_ROWS events (the conditional handler at
    BinlogStreamingChangeEventSource.java:224-228). Inside a
    TRANSACTION_PAYLOAD the whole transaction is one parse unit, so the
    statement threads to its rows events directly; for UNCOMPRESSED
    streams — where the marker is a separate top-level message and
    ordering across partitions can't be assumed — the marker surfaces
    as a kind='rows_query' row and ``attach_rows_query`` joins it to
    its statement's rows by position interval. OFF (the default) keeps
    the exact legacy schema and drops the markers entirely, like the
    unregistered handler.

    ``registry`` (table_id → TABLE_MAP parse) defaults to the batch's
    own TABLE_MAPs; a streaming caller passes the accumulated one (see
    BinlogStreamDecoder) so rows events decode even when their TABLE_MAP
    arrived in an earlier micro-batch.

    r13: a batch's rows-event subset — including rows events embedded in
    TRANSACTION_PAYLOADs, which decompress once per payload and batch
    into the same group decode — runs through the vectorized numpy walk
    (``_decode_rows_batch_vectorized``); markers/maps in the same batch
    keep the exact per-row path and all outputs re-interleave in
    (message, embedded-event) order. Any batch whose rows events leave
    the vectorized slice falls back whole to the per-row path, which
    raises the reference's exact errors for malformed input (see
    ``_rows_batch`` for which kernel errors decline to it)."""
    if registry is None:
        registry = table_map_registry(df, msg_col=msg_col)

    def run(batches):
        for batch in batches:
            yield _rows_batch(batch.column(0), registry, include_query)

    schema = _ROW_SCHEMA + (", query string" if include_query else "")
    return df.select(msg_col).mapInArrow(run, schema)


def attach_rows_query(
    decoded: DataFrame,
    pos_col: str = "log_pos",
    bin_width: int = 1 << 20,
) -> DataFrame:
    """include.query enrichment for UNCOMPRESSED streams: join each
    c/u/d row to the ROWS_QUERY/ANNOTATE_ROWS marker whose position
    interval contains it, filling the ``query`` column where the decode
    left it NULL (payload-embedded rows already carry theirs — coalesce
    keeps them).

    Interval construction mirrors the reference's offset-context
    semantics (set on the marker, replaced by the next statement's
    marker, reset at transaction completion): markers AND xid rows
    breaker-sort by position, each rows_query interval runs to the next
    breaker of either kind — so a rows event after a commit but before
    the next statement's marker stays NULL instead of inheriting a
    stale query.

    Scale: the interval table is ONE ROW PER STATEMENT and the attach is
    the engine's BINNED range join (operators/range_join.py) — a plain
    equi-join on ``pos div bin_width`` with the exact containment
    predicate inside the join, ONE shuffle, linear in rows + statements
    at any stream size. A bare non-equi join here would plan as
    BroadcastNestedLoopJoin: quadratic in statements × rows, measured
    4x slower at sf0.1 and a scale-killer beyond it. The lead() that
    builds intervals is TWO-LEVEL (lead within a position bin + a
    boundary repair from the next non-empty bin's min), so the only
    single-partition step handles one row per non-empty bin, not one
    per statement; ``bin_width`` is in position units — pick it near
    the median statement span (default 1 MiB of binlog)."""
    from pyspark.sql import Window

    from debezium_spark.operators.range_join import range_join

    # FOUR plan branches consume the decoded frame (rows side, marker
    # side, the high-water agg, the pass-through union) and the decode is
    # an opaque Arrow kernel, so without a barrier every branch re-runs
    # the full Python parse — measured 3-4 kernel executions per action
    # at sf0.1 (r13). Lazily materialize it once, the same pattern as the
    # x37/x39 fingerprint table and a13's TF index; in production this is
    # the micro-batch's decoded frame, persisted once per batch anyway.
    decoded = decoded.localCheckpoint(eager=False)

    breakers = (
        decoded.filter(F.col("kind").isin("rows_query", "xid"))
        .select(
            F.col(pos_col).alias("q_from"),
            "kind",
            F.element_at("after", 1).alias("q_text"),
        )
    )
    # Two-level lead (guide §2): a global-order lead() would sort EVERY
    # breaker (one per statement + one per tx) in one task. Instead lead
    # within a position bin (distributed), then repair each bin's LAST
    # breaker with the next non-empty bin's minimum — the only
    # single-partition step runs over ONE ROW PER NON-EMPTY BIN, a
    # reduction of (statements per bin_width of binlog); with the 1 MiB
    # default and real statement sizes that is 10^2-10^4x. The join back
    # is on the bin key the window already hashed by, so AQE reuses the
    # exchange. Results are identical to the global lead: positions are
    # unique (binlog offsets strictly increase), so "next breaker" =
    # within-bin lead, or the next non-empty bin's min for the last one.
    lbin = F.expr(f"q_from div {int(bin_width)}")
    binned = breakers.withColumn("__lbin", lbin)
    wb = Window.partitionBy("__lbin").orderBy("q_from")
    in_bin = binned.withColumn("__lead", F.lead("q_from").over(wb))
    bin_mins = binned.groupBy("__lbin").agg(F.min("q_from").alias("__bmin"))
    wg = Window.orderBy("__lbin")
    nxt = bin_mins.withColumn(
        "__next", F.lead("__bmin").over(wg)
    ).select("__lbin", "__next")
    intervals = (
        in_bin.join(nxt, "__lbin", "left")
        .withColumn("q_to", F.coalesce(F.col("__lead"), F.col("__next")))
        .filter(F.col("kind") == "rows_query")
        .select("q_from", "q_to", "q_text")
    )
    rows = decoded.filter(F.col("kind").isin("c", "u", "d"))
    others = decoded.filter(~F.col("kind").isin("c", "u", "d"))
    # The last marker's interval is open-ended; cap it at the stream's
    # high-water position so the binning explode stays finite. One-row
    # broadcast cross join — the repo's standard scalar-bound pattern.
    hi = rows.agg(F.max(pos_col).alias("__hi"))
    bounded = intervals.crossJoin(F.broadcast(hi)).select(
        # containment is strict on both sides ((q_from, q_to)); the
        # binned join is inclusive, so shift the bounds inward
        (F.col("q_from") + 1).alias("__start"),
        (F.coalesce(F.col("q_to"), F.col("__hi") + 1) - 1).alias("__end"),
        "q_text",
    )
    joined = range_join(
        rows,
        bounded,
        left_point=pos_col,
        right_start="__start",
        right_end="__end",
        bin_width=bin_width,
        how="left",
    )
    enriched = joined.withColumn(
        "query", F.coalesce(F.col("query"), F.col("q_text"))
    ).drop("__start", "__end", "q_text")
    return enriched.unionByName(others)


def named_typed_rows(
    decoded: DataFrame,
    versions: list[tuple[int, list[tuple[str, str]]]],
    pos_col: str = "log_pos",
) -> DataFrame:
    """Name and TYPE the positional row images via schema history — the
    binlog carries no column names or SQL types (TABLE_MAP has only
    wire-type codes), so the reference resolves both from the DDL it
    tracked (MySqlDatabaseSchema / TableSchemaBuilder); this is that
    resolution as a plan: ``versions`` is the DDL tracker's
    [(valid_from_pos, [(col_name, spark_type), …])] fold, each version
    window projects its own element_at+cast list, and the union aligns
    by NAME with evolution-missing columns null (a v1 row has no value
    for a column ADDed in v2).

    Versions are bounded by schema changes, so the per-version plan
    branches stay tiny; each branch is a codegen filter+project over the
    same scan — no shuffle, no Python. DOUBLE columns ride the *_nums
    array: the text form is None by design, so a double column's cast
    here would null it — project those from ``after_nums`` upstream."""
    frames = []
    for i, (frm, cols) in enumerate(versions):
        cond = F.col(pos_col) >= F.lit(frm)
        if i + 1 < len(versions):
            cond = cond & (F.col(pos_col) < F.lit(versions[i + 1][0]))
        sel = [F.col(pos_col), F.col("kind").alias("op")] + [
            F.element_at(F.col("after"), j + 1).cast(t).alias(n)
            for j, (n, t) in enumerate(cols)
        ]
        frames.append(
            decoded.filter(
                F.col("kind").isin("c", "u", "d") & cond
            ).select(*sel)
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def resolve_enum_label(col, labels: list[str]):
    """1-based ENUM ordinal -> its declaration-order label (schema
    history's enumValues — the wire carries only the ordinal). Ordinal 0
    is MySQL's invalid-value empty string; NULL stays NULL."""
    arr = F.array(*[F.lit(x) for x in labels])
    o = col.cast("int")
    return F.when(o > 0, F.element_at(arr, o)).when(o == 0, F.lit(""))


def resolve_set_labels(col, labels: list[str]):
    """SET bitmask -> MySQL's text form: declaration-order labels of the
    set bits, comma-joined (bit i = labels[i]); NULL stays NULL."""
    mask = col.cast("long")
    parts = [
        F.when(mask.bitwiseAND(F.lit(1 << i)) != 0, F.lit(lab))
        for i, lab in enumerate(labels)
    ]
    return F.when(mask.isNotNull(), F.concat_ws(",", *parts))


class BinlogStreamDecoder:
    """Cross-batch binlog decode state for foreachBatch: the TABLE_MAP
    registry accumulates across micro-batches (real binlogs repeat the
    map before every rows event, but a checkpoint restart or a
    maxFilesPerTrigger split can land a rows event in a later batch
    than its map — the reference's client caches TableMapEventData the
    same way). The binlog only ever contains committed transactions, so
    unlike PgOutputStreamDecoder there is no commit gating to carry —
    only the schema registry. Latest map per table_id wins, matching
    the server's id-reuse semantics."""

    def __init__(self, spark=None):
        self.registry: dict[int, dict] = {}

    def decode_batch(self, df: DataFrame, msg_col: str = "msg") -> DataFrame:
        self.registry.update(table_map_registry(df, msg_col=msg_col))
        # snapshot: the kernel closure must not race later updates
        return decode_binlog_rows(df, msg_col=msg_col,
                                  registry=dict(self.registry))
