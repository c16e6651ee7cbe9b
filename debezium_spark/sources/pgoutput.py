"""S8 — binary pgoutput wire-format decode (the real replication protocol).

Reference: ``debezium-connector-postgres/.../connection/pgoutput/
PgOutputMessageDecoder.java`` — message codes (:84-113), BEGIN/COMMIT
(:264-295), RELATION (:320-372), INSERT/UPDATE/DELETE (:447-548),
TRUNCATE (:556-612), the NUL-terminated string and length-prefixed value
reads (:726-746), and tuple-data sub-messages 't'/'n'/'u' (:756-820).

Wire format (all integers big-endian, matching the protocol):

* ``B`` begin: int64 final-LSN of the tx, int64 commit timestamp
  (microseconds since the Postgres epoch 2000-01-01), int32 xid.
* ``C`` commit: int8 flags, int64 commit LSN, int64 end LSN, int64
  commit timestamp.
* ``R`` relation: int32 relation id, cstring schema, cstring table,
  int8 replica-identity code, int16 column count, then per column:
  int8 flags (1 = part of key), cstring name, int32 type OID,
  int32 atttypmod.
* ``I`` insert: int32 relation id, 'N', TupleData.
* ``U`` update: int32 relation id, optional ('K'|'O') TupleData for the
  old key / old row, then 'N' TupleData.
* ``D`` delete: int32 relation id, ('K'|'O') TupleData.
* ``T`` truncate: int32 relation count, int8 option bits
  (1=CASCADE, 2=RESTART IDENTITY), int32[] relation ids.
* TupleData: int16 column count, then per column 't' (int32 length +
  UTF-8 bytes), 'n' (null), or 'u' (unchanged TOAST value not sent).

Spark shape: a micro-batch decodes with ONE driver-side control-plane
collect plus ONE ``mapInArrow`` data kernel. The control plane is a
prefix-filtered collect of the control messages (RELATION, BEGIN,
Stream Start/Stop/Commit/Abort; bounded by tables × schema changes plus
transactions per batch) folded on the driver, as the reference
decoder holds that state in memory: the protocol-v2 stream segments, the
versioned relation registry (valid-from/to LSN intervals, same shape as
T13's schema history), the sorted v1 BEGIN intervals ``[begin_lsn,
final_lsn]``, the v2 Stream Commit map and the subtransaction-abort
guard. The data kernel decodes the INSERT/UPDATE/DELETE messages
(vectorized numpy walk, never a per-row UDF), names their columns from
the relation version in effect at each LSN and stamps xid/commit-ts — v1
by ``searchsorted`` into the BEGIN intervals, v2 by the commit map on the
int32 xid prefix in-segment messages carry — all inside the consumer's
action. The same kernel then builds the envelope columns in Arrow (the
name-keyed ``before``/``after`` maps and the NULL/TOAST name lists), so
no per-row JVM expression follows it. Protocol v2 (PG14 streamed
transactions — the reference pins proto_version 1, so this is the scale
extension) is decoded alongside v1. The stream decoder
(``PgOutputStreamDecoder``) runs the same fold and kernel on the driver
instead for a micro-batch under its inline bound: one Arrow collect of
the raw messages, and the envelope leaves as a local relation.

No live Postgres exists in this sandbox, so fixtures are generated
offline by the encoder half below (byte-identical to the protocol; the
unit goldens in tests/test_pgoutput.py pin exact byte strings per
message type).
"""

from __future__ import annotations

import struct
from collections import Counter
from functools import partial
from itertools import repeat

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_spark.inline import INLINE_MAX_ROWS, footer_rows_exceed

#: replication message codes handled by the decoder
#: (PgOutputMessageDecoder.java:95-115); anything else parses to
#: kind='skip' like the reference's default branch
MESSAGE_CODES = {
    "R": "relation",
    "B": "begin",
    "C": "commit",
    "I": "insert",
    "U": "update",
    "D": "delete",
    "T": "truncate",
    "O": "origin",
    "Y": "type",
    "M": "message",
    # protocol v2 (PG14+) streamed-transaction framing. The reference pins
    # proto_version 1 (PostgresReplicationConnection's slot options), so
    # v1 is the parity surface; v2 is the SCALE extension — a large tx
    # streams before commit and every data message carries its xid, which
    # turns the tx attach from an interval lookup into a commit-map lookup.
    "S": "stream_start",
    "E": "stream_stop",
    "c": "stream_commit",
    "A": "stream_abort",
}


# ---------------------------------------------------------------------------
# Pure-Python single-message parse/encode (shared by the Arrow kernel and
# the byte-fixture goldens)
# ---------------------------------------------------------------------------
def _read_cstring(buf: bytes, off: int) -> tuple[str, int]:
    end = buf.index(b"\x00", off)
    return buf[off:end].decode("utf-8"), end + 1


def _read_tuple_data(buf: bytes, off: int) -> tuple[list[tuple], int]:
    (ncols,) = struct.unpack_from(">h", buf, off)
    off += 2
    cols: list[tuple] = []
    for _ in range(ncols):
        kind = chr(buf[off])
        off += 1
        if kind == "t":
            (length,) = struct.unpack_from(">i", buf, off)
            off += 4
            if length < 0 or off + length > len(buf):
                # ByteBuffer.get(byte[]) underflows in the reference; a
                # Python slice would silently return the short tail
                raise ValueError(
                    f"tuple value of {length} bytes at offset {off} "
                    f"overruns the {len(buf)}-byte message"
                )
            cols.append(("t", buf[off : off + length].decode("utf-8")))
            off += length
        elif kind in ("n", "u"):
            cols.append((kind, None))
        else:
            raise ValueError(f"unsupported tuple sub-message {kind!r}")
    return cols, off


#: message kinds that carry a leading int32 xid inside a protocol-v2
#: streamed-transaction segment (between Stream Start and Stream Stop)
_V2_XID_PREFIXED = {
    "relation", "insert", "update", "delete", "truncate", "type", "message",
}


def parse_message(buf: bytes, in_stream: bool = False) -> dict:
    """Parse ONE binary replication message into a plain dict (the
    per-message half of PgOutputMessageDecoder.processNotEmptyMessage).
    Unknown message codes return ``{"kind": "skip"}`` — the reference
    ignores unhandled types rather than failing the stream.

    ``in_stream=True`` parses the protocol-v2 in-segment form: data-class
    messages carry an int32 xid right after the code byte. Segment
    membership is FRAMING state — the WAL reader sees messages in order
    and stamps it when it stamps the LSN (Stream Start opens, Stream
    Stop closes), so the distributed decode stays stateless per message."""
    code = chr(buf[0])
    kind = MESSAGE_CODES.get(code, "skip")
    if kind == "stream_start":
        (xid,) = struct.unpack_from(">i", buf, 1)
        return {
            "kind": "stream_start",
            "xid": xid & 0xFFFFFFFF,
            "first_segment": buf[5] == 1,
        }
    if kind == "stream_stop":
        return {"kind": "stream_stop"}
    if kind == "stream_commit":
        (xid,) = struct.unpack_from(">i", buf, 1)
        flags = buf[5]
        commit_lsn, end_lsn, ts_us = struct.unpack_from(">qqq", buf, 6)
        return {
            "kind": "stream_commit",
            "xid": xid & 0xFFFFFFFF,
            "flags": flags,
            "commit_lsn": commit_lsn,
            "end_lsn": end_lsn,
            "commit_ts_us": ts_us,
        }
    if kind == "stream_abort":
        xid, subxid = struct.unpack_from(">ii", buf, 1)
        return {
            "kind": "stream_abort",
            "xid": xid & 0xFFFFFFFF,
            "subtransaction_xid": subxid & 0xFFFFFFFF,
        }
    if in_stream and kind in _V2_XID_PREFIXED:
        (stream_xid,) = struct.unpack_from(">i", buf, 1)
        out = parse_message(buf[:1] + buf[5:])
        out["stream_xid"] = stream_xid & 0xFFFFFFFF
        return out
    if kind == "begin":
        final_lsn, ts_us, xid = struct.unpack_from(">qqi", buf, 1)
        return {
            "kind": "begin",
            "final_lsn": final_lsn,
            "commit_ts_us": ts_us,
            # Integer.toUnsignedLong(buffer.getInt()) — xid is uint32
            "xid": xid & 0xFFFFFFFF,
        }
    if kind == "commit":
        flags = buf[1]
        commit_lsn, end_lsn, ts_us = struct.unpack_from(">qqq", buf, 2)
        return {
            "kind": "commit",
            "flags": flags,
            "commit_lsn": commit_lsn,
            "end_lsn": end_lsn,
            "commit_ts_us": ts_us,
        }
    if kind == "relation":
        (relid,) = struct.unpack_from(">i", buf, 1)
        off = 5
        schema, off = _read_cstring(buf, off)
        table, off = _read_cstring(buf, off)
        replica_identity = chr(buf[off])
        off += 1
        (ncols,) = struct.unpack_from(">h", buf, off)
        off += 2
        columns = []
        for _ in range(ncols):
            flags = buf[off]
            off += 1
            name, off = _read_cstring(buf, off)
            type_oid, atttypmod = struct.unpack_from(">ii", buf, off)
            off += 8
            columns.append(
                {
                    "flags": flags,
                    "name": name,
                    "type_oid": type_oid,
                    "atttypmod": atttypmod,
                }
            )
        return {
            "kind": "relation",
            "relation_id": relid,
            "schema": schema,
            "table": table,
            "replica_identity": replica_identity,
            "columns": columns,
        }
    if kind == "insert":
        (relid,) = struct.unpack_from(">i", buf, 1)
        tuple_type = chr(buf[5])  # always 'N' for inserts
        if tuple_type != "N":
            raise ValueError(f"INSERT tuple type {tuple_type!r}, expected 'N'")
        after, _ = _read_tuple_data(buf, 6)
        return {"kind": "insert", "relation_id": relid, "after": after}
    if kind == "update":
        (relid,) = struct.unpack_from(">i", buf, 1)
        off = 5
        tuple_type = chr(buf[off])
        off += 1
        before = None
        before_kind = None
        if tuple_type in ("K", "O"):
            before, off = _read_tuple_data(buf, off)
            before_kind = tuple_type
            tuple_type = chr(buf[off])  # read the 'N' tuple type
            off += 1
        if tuple_type != "N":
            raise ValueError(f"UPDATE tuple type {tuple_type!r}, expected 'N'")
        after, _ = _read_tuple_data(buf, off)
        return {
            "kind": "update",
            "relation_id": relid,
            "before": before,
            "before_kind": before_kind,
            "after": after,
        }
    if kind == "delete":
        (relid,) = struct.unpack_from(">i", buf, 1)
        before_kind = chr(buf[5])
        if before_kind not in ("K", "O"):
            raise ValueError(f"DELETE tuple type {before_kind!r}")
        before, _ = _read_tuple_data(buf, 6)
        return {
            "kind": "delete",
            "relation_id": relid,
            "before": before,
            "before_kind": before_kind,
        }
    if kind == "truncate":
        (nrels,) = struct.unpack_from(">i", buf, 1)
        flags = buf[5]
        relids = list(struct.unpack_from(f">{nrels}i", buf, 6))
        return {"kind": "truncate", "relation_ids": relids, "flags": flags}
    if kind == "origin":
        (commit_lsn,) = struct.unpack_from(">q", buf, 1)
        name, _ = _read_cstring(buf, 9)
        return {"kind": "origin", "commit_lsn": commit_lsn, "name": name}
    if kind == "type":
        # 'Y' type message (handleTypeMessage): int32 type OID, cstring
        # namespace, cstring name — how custom/extension types announce
        # themselves before a relation references their OID.
        (type_oid,) = struct.unpack_from(">i", buf, 1)
        namespace, off = _read_cstring(buf, 5)
        name, _ = _read_cstring(buf, off)
        return {
            "kind": "type",
            "type_oid": type_oid,
            "namespace": namespace,
            "name": name,
        }
    if kind == "message":
        # PG14 logical decoding message (handleLogicalDecodingMessage,
        # PgOutputMessageDecoder.java:628-660): int8 transactional flag,
        # int64 LSN, cstring prefix, int32 content length, content bytes.
        transactional = buf[1] == 1
        (lsn,) = struct.unpack_from(">q", buf, 2)
        prefix, off = _read_cstring(buf, 10)
        (clen,) = struct.unpack_from(">i", buf, off)
        content = buf[off + 4 : off + 4 + clen]
        return {
            "kind": "message",
            "transactional": transactional,
            "message_lsn": lsn,
            "prefix": prefix,
            "content": content,
        }
    return {"kind": "skip"}


# -- encoder half (fixture generation; byte-identical to the protocol) ------
def _enc_cstring(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def encode_tuple_data(cols: list[tuple]) -> bytes:
    out = struct.pack(">h", len(cols))
    for col in cols:
        kind = col[0]
        if kind == "t":
            v = col[1].encode("utf-8")
            out += b"t" + struct.pack(">i", len(v)) + v
        elif kind in ("n", "u"):
            out += kind.encode()
        else:
            raise ValueError(f"unsupported tuple sub-message {kind!r}")
    return out


def encode_begin(final_lsn: int, commit_ts_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">qqi", final_lsn, commit_ts_us, xid)


def encode_commit(
    commit_lsn: int, end_lsn: int, commit_ts_us: int, flags: int = 0
) -> bytes:
    return b"C" + bytes([flags]) + struct.pack(
        ">qqq", commit_lsn, end_lsn, commit_ts_us
    )


def encode_relation(
    relation_id: int,
    schema: str,
    table: str,
    columns: list[tuple],
    replica_identity: str = "d",
) -> bytes:
    """``columns``: list of (flags, name, type_oid, atttypmod)."""
    out = (
        b"R"
        + struct.pack(">i", relation_id)
        + _enc_cstring(schema)
        + _enc_cstring(table)
        + replica_identity.encode()
        + struct.pack(">h", len(columns))
    )
    for flags, name, type_oid, atttypmod in columns:
        out += bytes([flags]) + _enc_cstring(name) + struct.pack(
            ">ii", type_oid, atttypmod
        )
    return out


def encode_insert(relation_id: int, after: list[tuple]) -> bytes:
    return b"I" + struct.pack(">i", relation_id) + b"N" + encode_tuple_data(
        after
    )


def encode_update(
    relation_id: int,
    after: list[tuple],
    before: list[tuple] | None = None,
    before_kind: str = "K",
) -> bytes:
    out = b"U" + struct.pack(">i", relation_id)
    if before is not None:
        out += before_kind.encode() + encode_tuple_data(before)
    return out + b"N" + encode_tuple_data(after)


def encode_delete(
    relation_id: int, before: list[tuple], before_kind: str = "K"
) -> bytes:
    return (
        b"D"
        + struct.pack(">i", relation_id)
        + before_kind.encode()
        + encode_tuple_data(before)
    )


def _i32(x: int) -> int:
    """uint32 value → the signed int32 with the same wire bytes."""
    return x if x < 2**31 else x - 2**32


def encode_stream_start(xid: int, first_segment: bool = True) -> bytes:
    return b"S" + struct.pack(">i", _i32(xid)) + (
        b"\x01" if first_segment else b"\x00"
    )


def encode_stream_stop() -> bytes:
    return b"E"


def encode_stream_commit(
    xid: int, commit_lsn: int, end_lsn: int, commit_ts_us: int,
    flags: int = 0,
) -> bytes:
    return (
        b"c"
        + struct.pack(">i", _i32(xid))
        + bytes([flags])
        + struct.pack(">qqq", commit_lsn, end_lsn, commit_ts_us)
    )


def encode_stream_abort(xid: int, subtransaction_xid: int) -> bytes:
    return b"A" + struct.pack(">ii", _i32(xid), _i32(subtransaction_xid))


def with_stream_xid(msg: bytes, xid: int) -> bytes:
    """Wrap a v1 data-class message into its v2 in-segment form (int32
    xid spliced after the code byte) — the fixture generator's half of
    streamed-transaction framing."""
    return msg[:1] + struct.pack(">i", _i32(xid)) + msg[1:]


def encode_logical_message(
    prefix: str, content: bytes, *, transactional: bool = True, lsn: int = 0
) -> bytes:
    return (
        b"M"
        + (b"\x01" if transactional else b"\x00")
        + struct.pack(">q", lsn)
        + _enc_cstring(prefix)
        + struct.pack(">i", len(content))
        + content
    )


def encode_truncate(relation_ids: list[int], flags: int = 0) -> bytes:
    return (
        b"T"
        + struct.pack(">i", len(relation_ids))
        + bytes([flags])
        + struct.pack(f">{len(relation_ids)}i", *relation_ids)
    )


# ---------------------------------------------------------------------------
# Distributed decode
# ---------------------------------------------------------------------------
_FRAME_SCHEMA = (
    "lsn long, kind string, relation_id int, xid long, final_lsn long,"
    " commit_ts_us long, before_kind string,"
    " before array<struct<k:string, v:string>>,"
    " after array<struct<k:string, v:string>>,"
    " truncate_relids array<int>, truncate_flags int, stream_xid long"
)


#: Arrow twin of ``_FRAME_SCHEMA`` (mapInArrow yields these batches).
def _arrow_frame_schema():
    import pyarrow as pa

    cells = pa.list_(pa.struct([("k", pa.utf8()), ("v", pa.utf8())]))
    return pa.schema(
        [
            ("lsn", pa.int64()),
            ("kind", pa.utf8()),
            ("relation_id", pa.int32()),
            ("xid", pa.int64()),
            ("final_lsn", pa.int64()),
            ("commit_ts_us", pa.int64()),
            ("before_kind", pa.utf8()),
            ("before", cells),
            ("after", cells),
            ("truncate_relids", pa.list_(pa.int32())),
            ("truncate_flags", pa.int32()),
            ("stream_xid", pa.int64()),
        ]
    )


def _be(data, idx, nbytes):
    """Vectorized big-endian unsigned integer read: compose ``nbytes``
    bytes of ``data`` starting at each position in ``idx`` (int64 out)."""
    import numpy as np

    v = np.zeros(len(idx), dtype=np.int64)
    for b in range(nbytes):
        v = (v << 8) | data[idx + b]
    return v


def _binary_offsets(msg_arr):
    """A binary Arrow array's data buffer (uint8) and each message's start
    and end byte offsets (int64), as numpy views of its buffers."""
    import numpy as np

    bufs = msg_arr.buffers()
    o = msg_arr.offset
    offs = np.frombuffer(bufs[1], dtype=np.int32)[
        o : o + len(msg_arr) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offs[:-1], offs[1:]


def _walk_tuples(data, pos, limit):
    """Vectorized TupleData walk over many messages at once: ``pos`` holds
    each message's tuple-start byte offset and ``limit`` its message's end
    offset (no read may cross it). Byte layout per the module
    docstring (int16 ncols, then 't' len+bytes / 'n' / 'u' cells). The walk
    advances all messages one CELL INDEX per numpy pass — O(max columns)
    passes total, each a gather over the active messages — instead of one
    Python iteration per cell per row.

    Returns ``(kinds, vstart, vlen, ncols, end_pos)`` where the 2-D arrays
    are [n, max_ncols] cell matrices (vlen = -1 marks 'n'/'u'/padding).
    Raises ValueError on an unsupported cell kind or a read past the
    message end (caller falls back to the per-row parser, which reports
    the exact offending byte)."""
    import numpy as np

    n = len(pos)
    if np.any(pos + 2 > limit):
        raise ValueError("truncated tuple header")
    ncols = _be(data, pos, 2)
    # every cell takes at least one byte: bounds the cell matrices below
    if np.any(ncols > limit - pos - 2):
        raise ValueError("column count overruns the message")
    p = pos + 2
    maxn = int(ncols.max()) if n else 0
    kinds = np.zeros((n, maxn), dtype=np.uint8)
    vstart = np.zeros((n, maxn), dtype=np.int64)
    vlen = np.full((n, maxn), -1, dtype=np.int64)
    for c in range(maxn):
        act = np.nonzero(c < ncols)[0]
        if not len(act):
            break
        if np.any(p[act] >= limit[act]):
            raise ValueError("truncated tuple data")
        k = data[p[act]]
        is_t = k == ord("t")
        if not np.all(is_t | (k == ord("n")) | (k == ord("u"))):
            raise ValueError("unsupported tuple sub-message")
        kinds[act, c] = k
        t_idx = act[is_t]
        if np.any(p[t_idx] + 5 > limit[t_idx]):
            raise ValueError("truncated tuple value length")
        ln = _be(data, p[t_idx] + 1, 4)
        if np.any((ln >= 1 << 31) | (p[t_idx] + 5 + ln > limit[t_idx])):
            raise ValueError("tuple value overruns its message")
        vstart[t_idx, c] = p[t_idx] + 5
        vlen[t_idx, c] = ln
        p[act] += 1
        p[t_idx] += 4 + ln
    return kinds, vstart, vlen, ncols, p


def _gather_slices(data, starts, lens):
    """One vectorized pass copying many byte slices of ``data`` into a
    contiguous buffer (the Arrow string-values buffer): classic
    repeat+arange gather, O(total bytes), no per-slice Python."""
    import numpy as np

    total = int(lens.sum())
    out_starts = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_starts[1:])
    src = np.repeat(starts - out_starts[:-1], lens) + np.arange(total)
    return data[src], out_starts


def _cells_list_array(data, kinds, vstart, vlen, ncols, present):
    """Build one ``list<struct<k,v>>`` Arrow column from a cell matrix:
    zero-copy-shaped buffer construction (kind chars are a 1-byte-per-slot
    string array over the raw kind bytes; values are one gathered buffer
    plus offsets), nulls where ``present`` is false."""
    import numpy as np
    import pyarrow as pa

    n = len(ncols)
    counts = np.where(present, ncols, 0)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    maxn = kinds.shape[1]
    sel = (np.arange(maxn)[None, :] < ncols[:, None]) & present[:, None]
    flat_k = kinds[sel]
    flat_vs = vstart[sel]
    flat_vl = vlen[sel]
    is_t = flat_vl >= 0
    ncells = len(flat_k)

    vals, voffs = _gather_slices(
        data, flat_vs, np.where(is_t, flat_vl, 0)
    )
    if voffs[-1] > np.iinfo(np.int32).max:
        raise ValueError("cell values exceed 2 GiB per batch")
    validity = np.packbits(is_t, bitorder="little")
    v_arr = pa.Array.from_buffers(
        pa.utf8(),
        ncells,
        [
            pa.py_buffer(validity.tobytes()),
            pa.py_buffer(voffs.astype(np.int32).tobytes()),
            pa.py_buffer(vals.tobytes()),
        ],
        null_count=int(ncells - is_t.sum()),
    )
    v_arr.validate(full=True)  # strict UTF-8, like the row path's decode()
    k_arr = pa.Array.from_buffers(
        pa.utf8(),
        ncells,
        [
            None,
            pa.py_buffer(np.arange(ncells + 1, dtype=np.int32).tobytes()),
            pa.py_buffer(flat_k.tobytes()),
        ],
    )
    struct_arr = pa.StructArray.from_arrays([k_arr, v_arr], names=["k", "v"])
    return pa.ListArray.from_arrays(
        pa.array(offs.astype(np.int32)),
        struct_arr,
        mask=pa.array(~present),
    )


def _decode_data_vectorized(lsn_arr, msg_arr):
    """Vectorized decode of a batch that contains ONLY v1 I/U/D data
    messages (the bench-critical path: the data branch's prefilter
    guarantees the message class; the caller verified no v2 framing).
    Pure numpy offset walks over the Arrow binary buffer — the per-row
    ``parse_message`` loop only runs for control messages and anomalies.
    Every read is bounded by its own message's end, and each message must
    end exactly where its last tuple does. Raises ValueError on any
    protocol violation; the caller re-runs the row path, which reports
    the reference's exact error."""
    import numpy as np
    import pyarrow as pa

    if msg_arr.null_count:
        raise ValueError("null message")
    if not pa.types.is_binary(msg_arr.type):
        # large_binary (64-bit offsets) would misread below; the row
        # path handles it
        raise ValueError(f"unexpected arrow type {msg_arr.type}")
    data, starts, ends = _binary_offsets(msg_arr)
    n = len(starts)
    # the shortest data message: code, int32 relid, tuple marker, int16 ncols
    if np.any(ends - starts < 8):
        raise ValueError("truncated data message")

    mtype = data[starts]
    is_i = mtype == ord("I")
    is_u = mtype == ord("U")
    is_d = mtype == ord("D")
    if not np.all(is_i | is_u | is_d):
        raise ValueError("not a pure I/U/D batch")
    relid = _be(data, starts + 1, 4).astype(np.uint32).astype(np.int32)

    marker = data[starts + 5]
    if not (
        np.all((marker[is_i] == ord("N")))
        and np.all(
            (marker[is_u] == ord("K"))
            | (marker[is_u] == ord("O"))
            | (marker[is_u] == ord("N"))
        )
        and np.all((marker[is_d] == ord("K")) | (marker[is_d] == ord("O")))
    ):
        raise ValueError("unexpected tuple type marker")
    has_old = (is_u & ((marker == ord("K")) | (marker == ord("O")))) | is_d

    # walk 1: the tuple every message carries at offset 6 (I/U: new unless
    # the update has an old image first; D: old image)
    k1, vs1, vl1, nc1, end1 = _walk_tuples(data, starts + 6, ends)
    t1_is_before = has_old  # U with K/O, or D

    # walk 2: the 'N' tuple following a U's old image
    u_old = np.nonzero(is_u & has_old)[0]
    one = np.ones(n, dtype=bool)
    one[u_old] = False
    if np.any(end1[one] != ends[one]):
        raise ValueError("trailing bytes after the tuple data")
    if len(u_old):
        if np.any(end1[u_old] >= ends[u_old]) or not np.all(
            data[end1[u_old]] == ord("N")
        ):
            raise ValueError("UPDATE missing 'N' tuple after old image")
        k2, vs2, vl2, nc2, end2 = _walk_tuples(
            data, end1[u_old] + 1, ends[u_old]
        )
        if np.any(end2 != ends[u_old]):
            raise ValueError("trailing bytes after the tuple data")
        # align walk-2 into full-width [n, max] matrices
        w = max(k1.shape[1], k2.shape[1])

        def pad(m, fill):
            if m.shape[1] == w:
                return m
            out = np.full((m.shape[0], w), fill, dtype=m.dtype)
            out[:, : m.shape[1]] = m
            return out

        k1, vs1, vl1 = pad(k1, 0), pad(vs1, 0), pad(vl1, -1)
        k2, vs2, vl2 = pad(k2, 0), pad(vs2, 0), pad(vl2, -1)
        ka, vsa, vla, nca = k1.copy(), vs1.copy(), vl1.copy(), nc1.copy()
        ka[u_old], vsa[u_old], vla[u_old] = k2, vs2, vl2
        nca[u_old] = nc2
    else:
        ka, vsa, vla, nca = k1, vs1, vl1, nc1

    after_present = ~is_d
    before_present = t1_is_before
    after = _cells_list_array(data, ka, vsa, vla, nca, after_present)
    before = _cells_list_array(data, k1, vs1, vl1, nc1, before_present)

    kind_names = np.array(["insert", "update", "delete"], dtype=object)
    kind_idx = np.where(is_i, 0, np.where(is_u, 1, 2))
    kind = pa.array(kind_names[kind_idx], type=pa.utf8())

    bk_validity = np.packbits(has_old, bitorder="little")
    bk_bytes = np.where(has_old, marker, 0).astype(np.uint8)
    bk_offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(has_old.astype(np.int32), out=bk_offs[1:])
    before_kind = pa.Array.from_buffers(
        pa.utf8(),
        n,
        [
            pa.py_buffer(bk_validity.tobytes()),
            pa.py_buffer(bk_offs.tobytes()),
            pa.py_buffer(bk_bytes[has_old].tobytes()),
        ],
        null_count=int(n - has_old.sum()),
    )

    schema = _arrow_frame_schema()
    null = lambda t: pa.nulls(n, type=t)  # noqa: E731
    return pa.RecordBatch.from_arrays(
        [
            lsn_arr.cast(pa.int64()),
            kind,
            pa.array(relid, type=pa.int32()),
            null(pa.int64()),
            null(pa.int64()),
            null(pa.int64()),
            before_kind,
            before,
            after,
            null(pa.list_(pa.int32())),
            null(pa.int32()),
            null(pa.int64()),
        ],
        schema=schema,
    )


def _frame_batch_rowpath(lsn_vals, msg_vals, stream_flags):
    """Per-row decode of one Arrow batch into a frame RecordBatch — the
    path for control messages, protocol-v2 segments, and any batch the
    vectorized kernel rejects (it re-raises the precise per-row error)."""
    import pyarrow as pa

    cols = {name: [] for name in (
        "lsn", "kind", "relation_id", "xid", "final_lsn", "commit_ts_us",
        "before_kind", "before", "after", "truncate_relids",
        "truncate_flags", "stream_xid",
    )}

    def cells(cc):
        if cc is None:
            return None
        return [{"k": k, "v": v} for k, v in cc]

    for lsn, raw, in_stream in zip(lsn_vals, msg_vals, stream_flags):
        m = parse_message(bytes(raw), in_stream=bool(in_stream))
        g = m.get
        cols["lsn"].append(int(lsn))
        cols["kind"].append(m["kind"])
        cols["relation_id"].append(g("relation_id"))
        cols["xid"].append(g("xid"))
        cols["final_lsn"].append(g("final_lsn"))
        cols["commit_ts_us"].append(g("commit_ts_us"))
        cols["before_kind"].append(g("before_kind"))
        cols["before"].append(cells(g("before")))
        cols["after"].append(cells(g("after")))
        cols["truncate_relids"].append(g("relation_ids"))
        cols["truncate_flags"].append(
            g("flags") if m["kind"] == "truncate" else None
        )
        cols["stream_xid"].append(g("stream_xid"))
    schema = _arrow_frame_schema()
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in schema],
        schema=schema,
    )


def _frame_batch(lsn_arr, msg_arr, flags=None):
    """Decode one Arrow batch of messages into a frame RecordBatch.

    A batch with no protocol-v2 in-segment rows (``flags`` None or all
    false) takes the vectorized kernel; a batch it declines — control
    messages, or a protocol violation it detects itself — and every
    batch carrying in-segment rows take the per-row ``parse_message``
    loop, which raises the reference's exact error for malformed input.
    Only the kernel's own decline reasons reroute: ``ValueError`` from
    its protocol and bounds checks, ``IndexError`` from a read past the
    buffer, ``pa.ArrowInvalid`` from the strict UTF-8 validation. Any
    other exception is a bug and surfaces."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(msg_arr, pa.ChunkedArray):  # pragma: no cover
        msg_arr = msg_arr.combine_chunks()
    n = len(msg_arr)
    if n == 0:
        return _frame_batch_rowpath([], [], [])
    if flags is None or not (pc.any(flags).as_py() or False):
        try:
            return _decode_data_vectorized(lsn_arr, msg_arr)
        except (ValueError, IndexError, pa.ArrowInvalid):
            pass
    return _frame_batch_rowpath(
        lsn_arr.to_pylist(),
        msg_arr.to_pylist(),
        [False] * n if flags is None else flags.to_pylist(),
    )


def decode_frames(
    df: DataFrame,
    msg_col: str = "msg",
    lsn_col: str = "lsn",
    in_stream_col: str | None = None,
) -> DataFrame:
    """Arrow-batched decode of every message into a positional frame
    (``_FRAME_SCHEMA``; column names are not attached). One Python pass
    per Arrow batch through ``_frame_batch``: plain v1 I/U/D batches take
    the vectorized numpy walk over the Arrow binary buffers, anything
    else the per-row parser.

    ``in_stream_col`` names a boolean column stamped by the WAL reader's
    framing (true between Stream Start and Stream Stop): those messages
    parse in protocol-v2 in-segment form and surface their
    ``stream_xid``."""
    sel = [lsn_col, msg_col] + ([in_stream_col] if in_stream_col else [])
    has_stream = in_stream_col is not None

    def run(batches):
        for batch in batches:
            yield _frame_batch(
                batch.column(0),
                batch.column(1),
                batch.column(2) if has_stream else None,
            )

    return df.select(*sel).mapInArrow(run, _FRAME_SCHEMA)


def _segments_from_marks(
    marks: list[tuple[int, bytes]], open_at_start: bool
) -> tuple[list[tuple[int, int | None]], bool]:
    """Fold sorted (lsn, b'S'/b'E') marks into disjoint segment
    intervals; segments never nest in the protocol, so overlapping
    marks raise instead of guessing."""
    segments: list[tuple[int, int | None]] = []
    open_lsn: int | None = -1 if open_at_start else None
    for lsn, code in marks:
        if code == b"S":
            if open_lsn is not None:
                raise ValueError(
                    f"Stream Start at lsn {lsn} inside an open "
                    "segment — protocol v2 segments never nest"
                )
            open_lsn = lsn
        else:
            if open_lsn is None:
                raise ValueError(
                    f"Stream Stop at lsn {lsn} without a Stream Start"
                )
            segments.append((open_lsn, lsn))
            open_lsn = None
    if open_lsn is not None:
        segments.append((open_lsn, None))
    return segments, open_lsn is not None


def _in_segment(lsn: int, segments: list[tuple[int, int | None]]) -> bool:
    return any(
        lsn > s and (e is None or lsn < e) for s, e in segments
    )


def _stamp_expr(segments, lsn_col: str):
    """Membership is strict (the S/E marks themselves are framing, not
    in-segment): disjoint OR of interval terms — bounded by segments per
    batch, each a codegen range compare on the already-read lsn."""
    cond = F.lit(False)
    for s, e in segments:
        term = F.col(lsn_col) > F.lit(s)
        if e is not None:
            term = term & (F.col(lsn_col) < F.lit(e))
        cond = cond | term
    return cond


def _segment_flags(lsn, segments):
    """``_stamp_expr`` in numpy over an int64 LSN array: strict membership
    in any of the segment intervals."""
    import numpy as np

    flags = np.zeros(len(lsn), dtype=bool)
    for s, e in segments:
        term = lsn > s
        if e is not None:
            term &= lsn < e
        flags |= term
    return flags


#: first bytes of the control messages the driver folds: RELATION, BEGIN,
#: Stream Start/Stop/Commit/Abort
_CONTROL_CODES = b"RBSEcA"
#: first bytes of the data messages the kernel decodes: INSERT/UPDATE/DELETE
_DATA_CODES = b"IUD"


def _first_byte_filter(codes: bytes) -> str:
    """A raw-byte prefix compare on ``{msg}`` (codegen) for ``codes``."""
    return "substring({msg}, 1, 1) IN (%s)" % ", ".join(
        f"X'{c:02X}'" for c in codes
    )


_CONTROL_FILTER = _first_byte_filter(_CONTROL_CODES)
_DATA_FILTER = _first_byte_filter(_DATA_CODES)


def _message_filters(msg_col: str) -> tuple:
    """The (control, data) message-class predicates on ``msg_col``, parsed
    once per caller: a stream decoder keeps them for every batch."""
    return (
        F.expr(_CONTROL_FILTER.format(msg=msg_col)),
        F.expr(_DATA_FILTER.format(msg=msg_col)),
    )


class _ControlPlane:
    """One frame's control messages folded on the driver — the state
    ``PgOutputMessageDecoder`` keeps in memory while it reads the stream.

    * ``segments`` / ``open_at_end``: protocol-v2 Stream Start/Stop
      framing as strict LSN intervals.
    * ``relations``: parsed 'R' messages as ``[(lsn, parsed)]``, sorted on
      ``(lsn, relation_id)``.
    * ``begins``: v1 BEGIN intervals ``[begin_lsn, final_lsn]`` as an
      ``int64[k, 4]`` array of (begin, final, xid, commit_ts_us) rows,
      sorted and disjoint.
    * ``commits``: v2 Stream Commit xid → commit_ts_us.
    * ``resolved``: streamed xids closed by a commit or a whole-tx abort.
    * ``started``: streamed xids named by a Stream Start.
    """

    def __init__(
        self,
        ctl,
        open_at_start: bool = False,
        flagged: bool = False,
        carried_begin: tuple | None = None,
    ):
        import numpy as np

        ctl = sorted(ctl, key=lambda t: t[0])
        if flagged:
            self.segments, self.open_at_end = [], False
        else:
            self.segments, self.open_at_end = _segments_from_marks(
                sorted((lsn, m[:1]) for lsn, m, _ in ctl if m[:1] in (b"S", b"E")),
                open_at_start,
            )
        self.relations: list[tuple[int, dict]] = []
        self.commits: dict[int, int] = {}
        self.resolved: set[int] = set()
        self.started: set[int] = set()
        # the previous batch's last BEGIN: its transaction's rows may
        # continue here (a replayed batch re-reads the same BEGIN, kept once)
        begins = [carried_begin] if carried_begin is not None else []
        for lsn, m, flag in ctl:
            code = m[:1]
            if code == b"R":
                in_stream = (
                    bool(flag) if flagged else _in_segment(lsn, self.segments)
                )
                self.relations.append(
                    (lsn, parse_message(m, in_stream=in_stream))
                )
            elif code == b"B":
                p = parse_message(m)
                # an interval ending before it starts can match no row
                b = (lsn, p["final_lsn"], p["xid"], p["commit_ts_us"])
                if p["final_lsn"] >= lsn and b != carried_begin:
                    begins.append(b)
            elif code == b"S":
                self.started.add(parse_message(m)["xid"])
            elif code == b"c":
                p = parse_message(m)
                self.commits[p["xid"]] = p["commit_ts_us"]
                self.resolved.add(p["xid"])
            elif code == b"A":
                # a subtransaction abort discards only that subxact's rows,
                # which this envelope does not track — raise rather than
                # emit a corrupted partial transaction
                p = parse_message(m)
                if p["subtransaction_xid"] != p["xid"]:
                    raise ValueError(
                        "stream abort of subtransaction "
                        f"{p['subtransaction_xid']} within tx {p['xid']}: "
                        "partial-tx rollback is unsupported, refusing to emit"
                    )
                self.resolved.add(p["xid"])
        self.relations.sort(key=lambda t: (t[0], t[1]["relation_id"]))
        begins.sort()
        # v1 transactions are serialized onto the stream, so a data row
        # lies in at most one BEGIN interval; overlap is corrupt input
        for a, b in zip(begins, begins[1:]):
            if b[0] <= a[1]:
                raise ValueError(
                    f"BEGIN intervals overlap: tx {a[2]} spans lsn "
                    f"[{a[0]}, {a[1]}] and tx {b[2]} begins at {b[0]}"
                )
        self.begins = np.array(begins, dtype=np.int64).reshape(-1, 4)


def _control_rows(
    df: DataFrame,
    where,
    msg_col: str,
    lsn_col: str,
    in_stream_col: str | None = None,
) -> list[tuple]:
    """ONE prefix-filtered collect (``where``: the control predicate of
    ``_message_filters``) of the frame's control messages as ``(lsn, msg,
    in-segment flag or None)`` rows for ``_ControlPlane``. Control
    messages are bounded by tables × schema changes plus transactions per
    batch."""
    sel = [lsn_col, msg_col] + ([in_stream_col] if in_stream_col else [])
    rows = df.filter(where).select(*sel).collect()
    return [
        (r[0], bytes(r[1]), r[2] if in_stream_col else None) for r in rows
    ]


def _control_plane(
    df: DataFrame,
    where,
    msg_col: str,
    lsn_col: str,
    in_stream_col: str | None = None,
) -> _ControlPlane:
    """The frame's control messages (``_control_rows``) folded
    driver-side."""
    return _ControlPlane(
        _control_rows(df, where, msg_col, lsn_col, in_stream_col),
        flagged=in_stream_col is not None,
    )


def collect_relations(
    df: DataFrame,
    msg_col: str = "msg",
    lsn_col: str = "lsn",
    in_stream_col: str | None = None,
) -> list[tuple[int, dict]]:
    """Parse a frame's 'R' messages driver-side into [(lsn, parsed)],
    sorted on (lsn, relation_id) — two RELATIONs sharing an LSN (a
    multi-table bootstrap stamped at lsn 0) never fall through to
    dict<dict comparison. In-segment 'R' messages parse in v2 form: by
    ``in_stream_col`` when given, else by the frame's own Stream
    Start/Stop framing."""
    return _control_plane(
        df, _message_filters(msg_col)[0], msg_col, lsn_col,
        in_stream_col=in_stream_col,
    ).relations


_REGISTRY_SCHEMA = (
    "relation_id int, schema string, table string,"
    " replica_identity string, col_names array<string>,"
    " col_flags array<int>, col_oids array<int>,"
    " col_typmods array<int>,"
    " valid_from_lsn long, valid_to_lsn long"
)


def _registry_rows(parsed: list[tuple[int, dict]]) -> list[tuple]:
    """One row per (relation_id, version) with a [valid_from_lsn,
    valid_to_lsn) LSN interval — the same validity shape as T13's schema
    history — built with a plain sort, never a Spark window."""
    by_relid: dict[int, list] = {}
    for lsn, m in sorted(parsed, key=lambda t: (t[0], t[1]["relation_id"])):
        by_relid.setdefault(m["relation_id"], []).append((lsn, m))
    rows = []
    for relid, versions in by_relid.items():
        for i, (lsn, m) in enumerate(versions):
            valid_to = versions[i + 1][0] if i + 1 < len(versions) else 2**62
            rows.append(
                (
                    relid,
                    m["schema"],
                    m["table"],
                    m["replica_identity"],
                    [c["name"] for c in m["columns"]],
                    [c["flags"] for c in m["columns"]],
                    [c["type_oid"] for c in m["columns"]],
                    [c["atttypmod"] for c in m["columns"]],
                    lsn,
                    valid_to,
                )
            )
    return rows


def registry_df(spark, parsed: list[tuple[int, dict]]) -> DataFrame:
    """Versioned relation registry as a DataFrame (``_registry_rows``)."""
    return spark.createDataFrame(_registry_rows(parsed), _REGISTRY_SCHEMA)


def relation_registry(
    spark,
    df: DataFrame,
    msg_col: str = "msg",
    lsn_col: str = "lsn",
    in_stream_col: str | None = None,
) -> DataFrame:
    """Registry built from one frame's own 'R' messages (batch decode)."""
    return registry_df(
        spark,
        collect_relations(
            df, msg_col=msg_col, lsn_col=lsn_col, in_stream_col=in_stream_col
        ),
    )


def _name_index(versions) -> dict:
    """Driver-side naming table for the data kernel from registry rows
    ``(relation_id, schema, table, col_names, valid_from, valid_to)``: per
    relation id, its versions' sorted interval starts/ends and their
    indices into the flat ``schema``/``table``/``col_names`` lists.
    Registries are bounded by tables × schema versions."""
    import numpy as np

    by_relid: dict[int, list] = {}
    flat: dict[str, list] = {"schema": [], "table": [], "col_names": []}
    for relid, schema, table, names, lo, hi in versions:
        if hi <= lo:
            continue  # a version superseded at its own LSN names nothing
        by_relid.setdefault(int(relid), []).append((lo, hi, len(flat["schema"])))
        flat["schema"].append(schema)
        flat["table"].append(table)
        flat["col_names"].append(list(names) if names is not None else None)
    index = {}
    for relid, vs in by_relid.items():
        vs.sort()
        for a, b in zip(vs, vs[1:]):
            if b[0] < a[1]:
                raise ValueError(
                    f"relation {relid} has overlapping registry versions "
                    f"[{a[0]}, {a[1]}) and [{b[0]}, {b[1]})"
                )
        index[relid] = np.array(vs, dtype=np.int64).reshape(-1, 3)
    return {"index": index, **flat}


#: the data kernel's output, the finished envelope (``_envelope_batch``):
#: ``before``/``after`` map the text ('t') cells by column name,
#: ``*_nulls`` name the 'n' cells and ``after_toasted`` the
#: unchanged-TOAST 'u' cells, all built in Arrow; ``op`` is never NULL
_ENVELOPE_SCHEMA = (
    "lsn long, op string not null, schema string, table string,"
    " xid long, commit_ts_us long, before_kind string,"
    " before map<string,string>, before_nulls array<string>,"
    " after map<string,string>, after_nulls array<string>,"
    " after_toasted array<string>"
)


def _envelope_side(cells, col_names, lsn, lists):
    """One tuple side of the envelope, in Arrow over the flattened cells:
    the ``map<string,string>`` of its 't' cells keyed by column name, plus
    one ``list<string>`` of column names per cell kind in ``lists``. A row
    whose tuple is NULL, or whose relation is unknown (NULL names), is
    NULL in every output. A tuple whose cell count differs from its
    relation's column count raises, naming the LSN; so does a name that
    repeats among a row's 't' cells (Spark's ``map_from_entries`` refuses
    duplicate keys the same way)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(cells)
    present = np.logical_and(
        cells.is_valid().to_numpy(zero_copy_only=False),
        col_names.is_valid().to_numpy(zero_copy_only=False),
    )
    c_off = cells.offsets.to_numpy().astype(np.int64)
    m_off = col_names.offsets.to_numpy().astype(np.int64)
    cnt = np.diff(c_off)
    bad = present & (cnt != np.diff(m_off))
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"tuple at lsn {int(lsn[i])} carries {int(cnt[i])} cells but "
            f"its relation names {int(m_off[i + 1] - m_off[i])} columns"
        )
    cnt = np.where(present, cnt, 0)
    row = np.repeat(np.arange(n), cnt)
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(cnt, out=starts[1:])
    within = np.arange(starts[-1]) - starts[:-1][row]
    cidx = pa.array(c_off[:-1][row] + within)
    keys = col_names.values.take(pa.array(m_off[:-1][row] + within))
    kinds = cells.values.field("k").take(cidx)
    null_rows = np.append(~present, False)

    def offsets_of(mask):
        offs = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.bincount(row[mask], minlength=n), out=offs[1:])
        return pa.array(offs, mask=null_rows)

    is_t = pc.equal(kinds, "t").to_numpy(zero_copy_only=False)
    t_keys = keys.filter(pa.array(is_t))
    if len(t_keys):
        codes = pc.dictionary_encode(t_keys).indices.to_numpy()
        pairs = row[is_t] * (int(codes.max()) + 1) + codes
        uniq, first = np.unique(pairs, return_index=True)
        if len(uniq) < len(pairs):
            dup = np.setdiff1d(np.arange(len(pairs)), first)[0]
            raise ValueError(
                f"Duplicate map key {t_keys[int(dup)].as_py()!r} in the "
                f"tuple at lsn {int(lsn[row[is_t][dup]])}"
            )
    out = [
        pa.MapArray.from_arrays(
            offsets_of(is_t),
            t_keys,
            cells.values.field("v").take(cidx.filter(pa.array(is_t))),
        )
    ]
    for kind in lists:
        is_k = pc.equal(kinds, kind).to_numpy(zero_copy_only=False)
        out.append(
            pa.ListArray.from_arrays(
                offsets_of(is_k), keys.filter(pa.array(is_k))
            )
        )
    return out


def _name_and_stamp(frame, names, begins, commits):
    """Attach relation naming and transaction metadata to one decoded
    frame batch, in numpy over the driver-folded control state:

    * naming: per relation id present, ``searchsorted`` of the row LSNs
      into that relation's version starts, kept when ``lsn < valid_to``;
      a row with no version gets NULL schema/table/names;
    * v1 tx: ``searchsorted`` into the disjoint BEGIN intervals, kept when
      ``lsn <= final_lsn``; a row outside every interval gets NULL xid;
    * v2 tx (rows with a ``stream_xid``): the Stream Commit map stamps
      committed xids; rows of uncommitted (pending or aborted) xids are
      withheld, matching the reference's commit-gated emission.

    The result keeps the frame's positional cells beside their relation's
    ``col_names``; ``_envelope_batch`` turns it into envelope rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = frame.num_rows
    lsn = frame.column("lsn").to_numpy(zero_copy_only=False)
    relid = pc.fill_null(frame.column("relation_id"), -1).to_numpy(
        zero_copy_only=False
    )

    ver = np.full(n, -1, dtype=np.int64)
    for r in np.unique(relid):
        vs = names["index"].get(int(r))
        if vs is None:
            continue
        m = relid == r
        at = lsn[m]
        i = np.searchsorted(vs[:, 0], at, side="right") - 1
        ic = np.maximum(i, 0)
        ver[m] = np.where((i >= 0) & (at < vs[ic, 1]), vs[ic, 2], -1)
    sx_col = frame.column("stream_xid")
    v2 = sx_col.is_valid().to_numpy(zero_copy_only=False)
    xid = np.zeros(n, dtype=np.int64)
    ts = np.zeros(n, dtype=np.int64)
    stamped = np.zeros(n, dtype=bool)
    if len(begins):
        i = np.searchsorted(begins[:, 0], lsn, side="right") - 1
        ic = np.maximum(i, 0)
        stamped = (i >= 0) & (lsn <= begins[ic, 1]) & ~v2
        xid = np.where(stamped, begins[ic, 2], 0)
        ts = np.where(stamped, begins[ic, 3], 0)
    if v2.any():
        sx = pc.fill_null(sx_col, -1).to_numpy(zero_copy_only=False)
        committed = np.zeros(n, dtype=bool)
        if commits:
            cx = np.array(sorted(commits), dtype=np.int64)
            cts = np.array([commits[x] for x in cx.tolist()], dtype=np.int64)
            j = np.minimum(np.searchsorted(cx, sx), len(cx) - 1)
            committed = v2 & (cx[j] == sx)
            xid = np.where(committed, sx, xid)
            ts = np.where(committed, cts[j], ts)
        stamped |= committed
        keep = ~v2 | committed
        if not keep.all():
            # withheld rows never reach the envelope
            frame = frame.filter(pa.array(keep))
            lsn, ver = lsn[keep], ver[keep]
            xid, ts, stamped = xid[keep], ts[keep], stamped[keep]
    vtake = pa.array(ver, mask=ver < 0)

    def take(key, typ):
        return pa.array(names[key], type=typ).take(vtake)

    return pa.RecordBatch.from_arrays(
        [
            frame.column("lsn"),
            frame.column("kind"),
            take("schema", pa.utf8()),
            take("table", pa.utf8()),
            take("col_names", pa.list_(pa.utf8())),
            frame.column("before_kind"),
            frame.column("before"),
            frame.column("after"),
            pa.array(xid, mask=~stamped),
            pa.array(ts, mask=~stamped),
        ],
        names=[
            "lsn", "kind", "schema", "table", "col_names", "before_kind",
            "before", "after", "xid", "commit_ts_us",
        ],
    )


def _envelope_batch(named):
    """One named batch (``_name_and_stamp``) as finished envelope rows
    (``_ENVELOPE_SCHEMA``): ``op`` from the message kind, and each tuple
    side's name-keyed map and name lists (``_envelope_side``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    lsn = named.column("lsn").to_numpy(zero_copy_only=False)
    col_names = named.column("col_names")
    kind = named.column("kind")
    op = np.array(["d", "c", "u"], dtype=object)[
        pc.equal(kind, "insert").to_numpy(zero_copy_only=False)
        + 2 * pc.equal(kind, "update").to_numpy(zero_copy_only=False)
    ]
    return pa.RecordBatch.from_arrays(
        [
            named.column("lsn"),
            pa.array(op, type=pa.utf8()),
            named.column("schema"),
            named.column("table"),
            named.column("xid"),
            named.column("commit_ts_us"),
            named.column("before_kind"),
            *_envelope_side(named.column("before"), col_names, lsn, ["n"]),
            *_envelope_side(named.column("after"), col_names, lsn, ["n", "u"]),
        ],
        names=[
            "lsn", "op", "schema", "table", "xid", "commit_ts_us",
            "before_kind", "before", "before_nulls", "after", "after_nulls",
            "after_toasted",
        ],
    )


def _envelope_kernel(lsn_arr, msg_arr, flags, names, begins, commits):
    """One Arrow batch of data messages to finished envelope rows:
    ``_frame_batch``, ``_name_and_stamp``, ``_envelope_batch``. The
    distributed plan runs it per Arrow batch in a Python worker, the
    stream decoder's inline route on the driver."""
    frame = _frame_batch(lsn_arr, msg_arr, flags)
    return _envelope_batch(_name_and_stamp(frame, names, begins, commits))


def _decode_data(
    df: DataFrame,
    where,
    msg_col: str,
    lsn_col: str,
    in_stream_col: str | None,
    names: dict,
    ctl: _ControlPlane,
) -> DataFrame:
    """The distributed data plane: ONE ``mapInArrow`` over the frame's
    I/U/D messages (``where``: the data predicate of ``_message_filters``)
    runs ``_envelope_kernel`` on each Arrow batch; no JVM projection
    follows. It runs inside the consumer's action — no job of its own.
    The naming table (``_name_index``) and the BEGIN/commit state travel
    in the kernel's closure: O(relation versions + transactions in the
    batch), and PySpark broadcasts any pickled command over 1 MB by
    itself."""
    begins, commits = ctl.begins, ctl.commits
    sel = [lsn_col, msg_col] + ([in_stream_col] if in_stream_col else [])
    has_stream = in_stream_col is not None

    def run(batches):
        for batch in batches:
            yield _envelope_kernel(
                batch.column(0),
                batch.column(1),
                batch.column(2) if has_stream else None,
                names,
                begins,
                commits,
            )

    return df.filter(where).select(*sel).mapInArrow(run, _ENVELOPE_SCHEMA)


def _version_rows(rows: list[tuple]) -> list[tuple]:
    """Registry rows → the naming table's ``(relation_id, schema, table,
    col_names, valid_from, valid_to)`` projection."""
    return [(r[0], r[1], r[2], r[4], r[8], r[9]) for r in rows]


def decode_pgoutput_binary(
    spark,
    df: DataFrame,
    msg_col: str = "msg",
    lsn_col: str = "lsn",
    registry: DataFrame | None = None,
    in_stream_col: str | None = None,
) -> DataFrame:
    """Full binary pgoutput decode: frames → named envelopes with
    transaction metadata.

    Output per data message: ``(lsn, op, schema, table, xid,
    commit_ts_us, before, before_nulls, after, after_nulls,
    after_toasted)`` where before/after are ``map<string,string>`` of the
    text-form values ('t' cells), the ``*_nulls`` arrays name 'n' cells,
    and ``after_toasted`` names unchanged-TOAST 'u' cells the server did
    not resend (UnchangedToastedReplicationMessageColumn).

    Plan shape: ONE prefix-filtered driver collect of the control
    messages (R/B/S/E/c/A) folds the framing, the relation versions, the
    BEGIN intervals, the Stream Commit map and the subtransaction-abort
    guard (``_ControlPlane``); then ONE ``mapInArrow`` kernel over the
    I/U/D messages decodes them, names their columns from the relation
    version in effect at each LSN, and stamps xid/commit-ts — v1 by a
    ``searchsorted`` into the BEGIN intervals (``[message lsn, final-LSN
    field]``; overlapping intervals raise), v2 by the commit map — and
    emits the finished envelope columns (``_envelope_side``). A tuple
    whose cell count differs from its relation's column count raises.
    ``registry`` injects a prebuilt relation registry (``registry_df``
    shape; collected once, bounded by tables × schema versions); None
    derives it from this frame's own 'R' messages.

    Protocol-v2 streamed transactions: ``in_stream_col`` names a boolean
    segment-membership column stamped by the caller; when None the
    framing is DERIVED from the frame's own Stream Start/Stop marks, so
    v2 input can never silently misparse through the v1 path. Data whose
    Stream Commit is absent from the frame (still pending, or aborted) is
    withheld; subtransaction aborts raise (no silent partial-tx
    corruption). ``spark`` is unused and kept for API compatibility."""
    ctl_where, data_where = _message_filters(msg_col)
    ctl = _control_plane(
        df, ctl_where, msg_col, lsn_col, in_stream_col=in_stream_col
    )
    if in_stream_col is None and ctl.segments:
        in_stream_col = "__in_stream"
        df = df.withColumn(in_stream_col, _stamp_expr(ctl.segments, lsn_col))
    if registry is None:
        versions = _version_rows(_registry_rows(ctl.relations))
    else:
        versions = [
            tuple(r)
            for r in registry.select(
                "relation_id", "schema", "table", "col_names",
                "valid_from_lsn", "valid_to_lsn",
            ).collect()
        ]
    return _decode_data(
        df, data_where, msg_col, lsn_col, in_stream_col, _name_index(versions),
        ctl,
    )


#: a micro-batch decodes on the driver from one Arrow collect while its
#: messages plus the pending protocol-v2 rows stay within this bound (the
#: shared ``INLINE_MAX_ROWS``); a larger batch takes the distributed plan
_INLINE_MAX_MESSAGES = INLINE_MAX_ROWS


def _first_bytes(msg_arr):
    """Each message's first byte (0, which no message code is, for a NULL
    or empty message), read in numpy from a binary Arrow array's
    buffers."""
    import numpy as np

    first = np.zeros(len(msg_arr), dtype=np.uint8)
    if not len(msg_arr):
        return first
    data, starts, ends = _binary_offsets(msg_arr)
    ok = ends > starts
    if msg_arr.null_count:
        ok &= msg_arr.is_valid().to_numpy(zero_copy_only=False)
    first[ok] = data[starts[ok]]
    return first


class PgOutputStreamDecoder:
    """Cross-micro-batch decode state for a streaming pgoutput feed.

    A RELATION message arrives ONCE (at slot creation or on schema
    change) but names every later tuple — so a per-batch registry derived
    only from the batch's own 'R' messages goes blind the moment data
    and relation messages land in different micro-batches. The reference
    holds this state in the long-lived decoder
    (``PgOutputMessageDecoder``'s relation cache); Spark-side the
    equivalent is this driver-held accumulator used from
    ``foreachBatch``::

        dec = PgOutputStreamDecoder(spark)
        stream.writeStream.foreachBatch(
            lambda b, _: sink.write(dec.decode_batch(b))
        )

    Routes, counted in ``routes``:

    * ``inline``: a batch whose messages plus the pending v2 rows fit
      ``_INLINE_MAX_MESSAGES`` (the parquet footers decide an over-bound
      batch without a job, else a ``limit(n+1)`` probe) is ONE Arrow
      collect of its raw ``(lsn, msg)`` rows. The control fold
      (``_ControlPlane``) and the data kernel (``_envelope_kernel``) run
      on the driver, as the reference decodes on its one connector
      thread, and the envelope goes downstream as
      ``createDataFrame(arrow)`` — a local relation, which the consumer's
      projections fold into: no Python worker runs.
    * ``over_bound`` and ``pending_distributed``: a batch over the bound,
      or any batch while the distributed route's pending buffer holds
      rows, takes the distributed plan — the control-plane collect (one
      job) plus the ``mapInArrow`` kernel inside the consumer's action.

    The persisted state is (a) the parsed 'R' list — bounded by tables ×
    schema changes, the same budget as schema history — and the last
    BEGIN interval seen, which stamps a v1 transaction's rows that
    continue into the next micro-batch; plus, for protocol-v2 streamed
    transactions, (b) whether a stream segment was left open at the batch
    boundary and (c) the in-segment rows of still-uncommitted txs
    (bounded by open streamed-tx size — the same buffer the server itself
    holds before v2 existed): an Arrow table on the inline route, a
    DataFrame localCheckpointed by the distributed route (a second job).
    Segment membership is DERIVED from the Stream Start/Stop framing per
    batch, never caller-stamped. A tx streamed across micro-batches emits
    exactly once — in the batch whose Stream Commit arrives; an aborted
    tx's rows are discarded. Restart recovery: feed ``bootstrap`` with
    the parsed relations persisted alongside the checkpoint
    (``relations`` exposes them for exactly that) and replay from the
    restart LSN (pending in-segment rows re-read from the WAL, as the
    reference does — it keeps no cross-restart tx buffer either)."""

    def __init__(self, spark, bootstrap: list[tuple[int, dict]] | None = None):
        from pyspark.sql.types import StructType

        self.spark = spark
        self._relations: list[tuple[int, dict]] = list(bootstrap or [])
        self._names = _name_index(
            _version_rows(_registry_rows(self._relations))
        )
        self._open_segment = False
        self._last_begin: tuple | None = None
        # in-segment rows of still-open streamed xids: an Arrow (lsn, msg)
        # RecordBatch from the inline route, a DataFrame from the
        # distributed one
        self._pending = None
        self._pending_xids: set[int] = set()
        self._schema = StructType.fromDDL(_ENVELOPE_SCHEMA)
        # msg column -> its (control, data) predicates, parsed once
        self._filters: dict[str, tuple] = {}
        self.routes: Counter = Counter()

    @property
    def relations(self) -> list[tuple[int, dict]]:
        return list(self._relations)

    def decode_batch(
        self, batch_df: DataFrame, msg_col: str = "msg", lsn_col: str = "lsn"
    ) -> DataFrame:
        if isinstance(self._pending, DataFrame):
            return self._decode_distributed(
                batch_df, msg_col, lsn_col, "pending_distributed"
            )
        raw = self._collect_inline(batch_df, msg_col, lsn_col)
        if raw is None:
            return self._decode_distributed(
                batch_df, msg_col, lsn_col, "over_bound"
            )
        self.routes["inline"] += 1
        return self._decode_inline(batch_df.sparkSession, raw)

    def _fold(self, rows) -> _ControlPlane:
        """Fold one batch's control rows and carry the decoder state."""
        ctl = _ControlPlane(
            rows, open_at_start=self._open_segment,
            carried_begin=self._last_begin,
        )
        self._open_segment = ctl.open_at_end
        if len(ctl.begins):
            self._last_begin = tuple(int(v) for v in ctl.begins[-1])
        if ctl.relations:
            self._relations.extend(ctl.relations)
            self._names = _name_index(
                _version_rows(_registry_rows(self._relations))
            )
        # Stream Start names every streamed xid, so the xids still open
        # after this batch are known without touching the data.
        self._pending_xids = (self._pending_xids | ctl.started) - ctl.resolved
        return ctl

    def _collect_inline(self, batch_df, msg_col, lsn_col):
        """The batch's raw ``(lsn, msg)`` rows as one Arrow table, or None
        when they and the pending rows exceed ``_INLINE_MAX_MESSAGES``."""
        bound = _INLINE_MAX_MESSAGES - (
            0 if self._pending is None else self._pending.num_rows
        )
        if bound < 0 or footer_rows_exceed(batch_df, bound):
            return None
        raw = batch_df.select(lsn_col, msg_col).limit(bound + 1).toArrow()
        return raw if raw.num_rows <= bound else None

    def _decode_inline(self, session, raw) -> DataFrame:
        """The collected rows decoded on the driver: the control fold, then
        the data kernel over the v1 rows and, as a kernel batch of their
        own (the row path), the in-segment rows after the pending ones."""
        import numpy as np
        import pyarrow as pa

        lsn = raw.column(0).combine_chunks().cast(pa.int64())
        msg = raw.column(1).combine_chunks().cast(pa.binary())
        first = _first_bytes(msg)
        at = np.flatnonzero(np.isin(first, list(_CONTROL_CODES)))
        ctl = self._fold(
            zip(lsn.take(at).to_pylist(), msg.take(at).to_pylist(),
                repeat(None))
        )
        rows = pa.RecordBatch.from_arrays([lsn, msg], ["lsn", "msg"]).filter(
            pa.array(np.isin(first, list(_DATA_CODES)))
        )
        in_seg = _segment_flags(
            rows.column(0).to_numpy(zero_copy_only=False), ctl.segments
        )
        seg = rows.filter(pa.array(in_seg))
        if self._pending is not None:
            seg = pa.RecordBatch.from_arrays(
                [pa.concat_arrays(c) for c in zip(self._pending.columns,
                                                  seg.columns)],
                ["lsn", "msg"],
            )
        kernel = partial(
            _envelope_kernel, names=self._names, begins=ctl.begins,
            commits=ctl.commits,
        )
        v1 = rows.filter(pa.array(~in_seg))
        parts = [kernel(v1.column(0), v1.column(1), None)]
        if seg.num_rows:
            parts.append(
                kernel(seg.column(0), seg.column(1),
                       pa.repeat(True, seg.num_rows))
            )
        self._pending = None
        if self._pending_xids and seg.num_rows:
            # the int32 xid every in-segment message carries at bytes 2-5
            data, starts, _ = _binary_offsets(seg.column(1))
            xid = _be(data, starts + 1, 4)
            self._pending = seg.filter(
                pa.array(~np.isin(xid, list(ctl.resolved)))
            )
        return session.createDataFrame(
            pa.Table.from_batches(parts), self._schema
        )

    def _decode_distributed(self, batch_df, msg_col, lsn_col, reason):
        """The decline route: the control-plane collect plus the
        ``mapInArrow`` data kernel (``_decode_data``)."""
        import pyarrow as pa

        self.routes[reason] += 1
        if msg_col not in self._filters:
            self._filters[msg_col] = _message_filters(msg_col)
        ctl_where, data_where = self._filters[msg_col]
        ctl = self._fold(_control_rows(batch_df, ctl_where, msg_col, lsn_col))
        if not ctl.segments and self._pending is None:
            # a plain v1 batch: no framing column, no pending buffer
            return _decode_data(
                batch_df, data_where, msg_col, lsn_col, None, self._names, ctl
            )

        work = batch_df.select(
            lsn_col, msg_col,
            _stamp_expr(ctl.segments, lsn_col).alias("__in_stream"),
        )
        pending = self._pending
        if isinstance(pending, pa.RecordBatch):
            # the inline route's buffer rejoins as a local relation
            pending = batch_df.sparkSession.createDataFrame(
                pa.table([
                    pending.column(0), pending.column(1),
                    pa.repeat(True, pending.num_rows),
                ], [lsn_col, msg_col, "__in_stream"]),
                f"{lsn_col} long, {msg_col} binary, __in_stream boolean",
            )
        if pending is not None:
            work = pending.unionByName(work)
        if self._pending_xids:
            # Every in-segment message carries its xid at bytes 2-5 (v2's
            # int32 prefix) — extracted JVM-side, no Python in the split.
            xid_expr = F.expr(
                f"cast(conv(hex(substring({msg_col}, 2, 4)), 16, 10) as long)"
            )
            pend_cond = F.col("__in_stream")
            if ctl.resolved:
                pend_cond = pend_cond & ~xid_expr.isin(
                    [int(x) for x in ctl.resolved]
                )
            # localCheckpoint truncates lineage so the pending buffer never
            # re-derives through every prior micro-batch's plan.
            self._pending = work.filter(pend_cond).localCheckpoint(eager=True)
        else:
            self._pending = None
        # The kernel withholds in-segment rows whose xid has no Stream
        # Commit in this batch, so `work` needs no ready-side filter.
        return _decode_data(
            work, data_where, msg_col, lsn_col, "__in_stream", self._names, ctl
        )


# ---------------------------------------------------------------------------
# Typed value projection (s22): OID -> Spark cast layer over the text cells
# ---------------------------------------------------------------------------
#: pg_type OIDs (pg_catalog, stable since PG7) the cast layer dispatches on —
#: the same set PostgresValueConverter.java:286-324 switches over. Everything
#: here is a Catalyst expression over the pgoutput 't' text cell; no UDF.
PG_BOOL, PG_BYTEA, PG_CHAR, PG_NAME = 16, 17, 18, 19
PG_INT8, PG_INT2, PG_INT4, PG_OID_T = 20, 21, 23, 26
PG_TEXT, PG_JSON, PG_XML = 25, 114, 142
PG_FLOAT4, PG_FLOAT8 = 700, 701
PG_BPCHAR, PG_VARCHAR = 1042, 1043
PG_DATE, PG_TIME, PG_TIMESTAMP, PG_TIMESTAMPTZ = 1082, 1083, 1114, 1184
PG_NUMERIC, PG_UUID, PG_JSONB = 1700, 2950, 3802
PG_POINT, PG_CIDR, PG_MONEY, PG_MACADDR, PG_INET = 600, 650, 790, 829, 869
PG_INTERVAL = 1186
# Range types surface as their text form (PostgresValueConverter.java:
# 252-259 maps TSRANGE/TSTZRANGE/DATERANGE/INT4RANGE/NUM_RANGE/INT8RANGE
# to SchemaBuilder.string(); :500-553 converts via convertString).
PG_INT4RANGE, PG_NUMRANGE, PG_TSRANGE = 3904, 3906, 3908
PG_TSTZRANGE, PG_DATERANGE, PG_INT8RANGE = 3910, 3912, 3926
PG_TIMETZ = 1266
PG_BIT, PG_VARBIT = 1560, 1562
PG_MACADDR8 = 774
PG_TIMETZ_ARRAY, PG_TIME_ARRAY, PG_BYTEA_ARRAY = 1270, 1183, 1001
# Array forms the reference leaves UNIMPLEMENTED (schemaBuilder returns
# null at PostgresValueConverter.java:338-347 with a "still need to be
# implemented" comment and converter():568-575 falls back to none, so
# the column is omitted) — the dispatch raises with that citation
# instead of guessing a shape the reference never defined. BIT_ARRAY
# sits in the schemaBuilder's Bits arm (:227) but has NO converter arm,
# so it lands here too.
_PG_UNIMPLEMENTED_ARRAY_OIDS = {
    791: "money[]", 1003: "name[]", 1187: "interval[]",
    1561: "bit[]", 1563: "varbit[]", 143: "xml[]", 1017: "point[]",
}
_PG_RANGE_OIDS = {PG_INT4RANGE, PG_NUMRANGE, PG_TSRANGE, PG_TSTZRANGE,
                  PG_DATERANGE, PG_INT8RANGE}
# tsvector rides the string set: the reference maps it to the TsVector
# logical type via convertString with no reshaping
# (PostgresValueConverter.java:283,511)
PG_TSVECTOR = 3614
_PG_STRING_OIDS = {PG_CHAR, PG_NAME, PG_TEXT, PG_JSON, PG_XML, PG_BPCHAR,
                   PG_VARCHAR, PG_UUID, PG_JSONB, PG_TSVECTOR}
#: array-type OID -> element cast ("" = text elements, unquoted JVM-side).
#: Temporal elements arrive QUOTED in array_out (they contain spaces) —
#: the quote-aware tokenizer unescapes before the cast.
_PG_ARRAY_ELEM = {
    1000: "boolean", 1005: "smallint", 1007: "int", 1016: "bigint",
    1021: "float", 1022: "double", 1231: "decimal(38,18)",
    1009: "", 1015: "",            # _text / _varchar
    1014: "", 2951: "",            # _bpchar / _uuid (string forms)
    1182: "date",
    1115: "timestamp_ntz",         # _timestamp (no tz)
    1185: "timestamp",             # _timestamptz
    # range arrays -> arrays of the range TEXT form (string elements,
    # PostgresValueConverter.java:300-303). Range text always carries a
    # comma, so array_out quotes every element — the quote-aware
    # tokenizer is what makes these decodable at all.
    3905: "", 3907: "", 3909: "",  # _int4range / _numrange / _tsrange
    3911: "", 3913: "", 3927: "",  # _tstzrange / _daterange / _int8range
    # the network/string tails (PostgresValueConverter.java:292-306:
    # CHAR/INET/CIDR/MACADDR/MACADDR8 arrays -> string elements;
    # :289-290 OID_ARRAY -> int64; :320-321 JSON/JSONB arrays -> the
    # Json logical type's string form)
    1002: "",                      # _char
    1041: "", 651: "",             # _inet / _cidr
    1040: "", 775: "",             # _macaddr / _macaddr8
    1028: "bigint",                # _oid
    199: "", 3807: "",             # _json / _jsonb
}

# PG array_out grammar (the full element forms, one nesting level): an
# element is a quoted string ("…" with \" and \\ escapes — may contain
# commas, braces, anything), a sub-array {…} (whose own quoted elements
# may contain '}'), or a bare token (PG only leaves an element unquoted
# when it has no special characters). Ordered alternation: the nested and
# quoted forms win before the bare catch-all, so an embedded comma never
# splits an element — the mis-parse PostgresValueConverter's real array
# walk can't hit and the previous bare-comma split did.
_PG_ARR_QUOTED = r'"(?:[^"\\]|\\.)*"'
_PG_ARR_NESTED = r"\{(?:" + _PG_ARR_QUOTED + r"|[^}])*\}"
_PG_ARR_TOKEN = f"({_PG_ARR_NESTED}|{_PG_ARR_QUOTED}|[^,]+)"
_PG_ARR_TOKEN_FLAT = f"({_PG_ARR_QUOTED}|[^,]+)"


def _pg_unquote(e):
    """Strip the surrounding quotes and undo the \\" and \\\\ escapes in
    ONE pass (a sequential \\"-then-\\\\ pair would corrupt '\\\\\"')."""
    return F.regexp_replace(
        e.substr(F.lit(2), F.length(e) - 2), r"\\(.)", r"$1"
    )


def _pg_elem_conv(elem_t: str, custom=None, null_type: str = "string"):
    """Element text -> typed value: unquoted NULL is SQL NULL, a quoted
    element unescapes (and only then casts), anything else casts
    directly. Malformed typed text still raises via ANSI cast — a
    try_cast would silently null corrupted data. ``custom`` replaces the
    cast with an arbitrary element expression (timetz/time/bytea arrays,
    whose element conversion is a whole sub-grammar, not a cast);
    ``null_type`` names its result type for the NULL arm."""
    if custom is not None:
        def conv(e):
            return (
                F.when(e == "NULL", F.lit(None).cast(null_type))
                .when(e.startswith('"'), custom(_pg_unquote(e)))
                .otherwise(custom(e))
            )
        return conv
    if elem_t == "boolean":
        def conv(e):
            return (
                F.when(e == "NULL", F.lit(None).cast("boolean"))
                .when(e == "t", F.lit(True))
                .when(e == "f", F.lit(False))
            )
    elif elem_t:
        def conv(e):
            return (
                F.when(e == "NULL", F.lit(None).cast(elem_t))
                .when(e.startswith('"'), _pg_unquote(e).cast(elem_t))
                .otherwise(e.cast(elem_t))
            )
    else:
        def conv(e):
            return (
                F.when(e == "NULL", F.lit(None).cast("string"))
                .when(e.startswith('"'), _pg_unquote(e))
                .otherwise(e)
            )
    return conv


def pg_array_value(col, elem_t: str, ndims: int = 1, custom=None,
                   null_type: str = "string"):
    """PG array text -> array<T> (ndims=1) or array<array<T>> (ndims=2),
    via the real array_out grammar: quoted elements with embedded
    commas/braces/escaped quotes, unquoted NULL vs quoted "NULL", empty
    arrays, one nesting level (PostgresValueConverter.java:286-324's
    array path; pg_attribute.attndims picks the shape — PG array OIDs
    don't encode dimensionality). A '{'-prefixed element inside a
    declared-1-D column raises instead of mis-parsing."""
    if ndims not in (1, 2):
        raise ValueError(f"pg arrays supported to 2 dimensions, got {ndims}")
    conv = _pg_elem_conv(elem_t, custom=custom, null_type=null_type)
    scalar_t = null_type if custom is not None else (elem_t or "string")
    inner = col.substr(F.lit(2), F.length(col) - 2)
    tokens = F.regexp_extract_all(inner, F.lit(_PG_ARR_TOKEN), 1)
    if ndims == 1:
        def guarded(e):
            return F.when(
                e.startswith("{"),
                F.raise_error(F.concat(F.lit(
                    "multi-dimensional pg array value in a column "
                    "declared 1-D: "), e)).cast(scalar_t),
            ).otherwise(conv(e))

        return F.transform(tokens, guarded)

    def sub_elem(e):
        # Same dimension-mismatch contract as the 1-D path: an element of
        # the INNER array that itself starts with '{' means the value is
        # 3-D (or deeper) inside a declared-2-D column — raise instead of
        # silently splitting sub-arrays on commas.
        return F.when(
            e.startswith("{"),
            F.raise_error(F.concat(F.lit(
                "multi-dimensional pg array value in a column "
                "declared 2-D: "), e)).cast(scalar_t),
        ).otherwise(conv(e))

    def sub(t):
        s_tokens = F.regexp_extract_all(
            t.substr(F.lit(2), F.length(t) - 2),
            F.lit(_PG_ARR_TOKEN_FLAT), 1,
        )
        return F.when(
            ~t.startswith("{"),
            F.raise_error(F.concat(F.lit(
                "scalar element in a column declared 2-D: "), t)
            ).cast(f"array<{scalar_t}>"),
        ).otherwise(F.transform(s_tokens, sub_elem))

    return F.transform(tokens, sub)


# hstore_out always double-quotes keys and values ("k"=>"v") with \" and
# \\ escapes; a NULL value renders as unquoted NULL. Two capture groups:
# idx 1 = the quoted key, idx 2 = the quoted value or NULL.
_PG_HSTORE_PAIR = (
    r'("(?:[^"\\]|\\.)*")\s*=>\s*("(?:[^"\\]|\\.)*"|NULL)'
)


def pg_hstore_value(col, mode: str = "map"):
    """hstore text ('"k 1"=>"v,1", "nil"=>NULL') -> map<string,string>
    (hstore.handling.mode=map: keys non-null, values nullable) or a JSON
    object string (mode=json), per PostgresValueConverter.convertHStore
    (:721-726) + hstoreSchema (:436-445). Pure Catalyst: one
    regexp_extract_all per side of the pair, unescape in transform."""
    if mode not in ("map", "json"):
        raise ValueError(f"hstore mode must be 'map' or 'json', got {mode!r}")
    keys = F.regexp_extract_all(col, F.lit(_PG_HSTORE_PAIR), 1)
    vals = F.regexp_extract_all(col, F.lit(_PG_HSTORE_PAIR), 2)
    m = F.map_from_arrays(
        F.transform(keys, _pg_unquote),
        F.transform(
            vals,
            lambda v: F.when(v == "NULL", F.lit(None).cast("string"))
            .otherwise(_pg_unquote(v)),
        ),
    )
    if mode == "map":
        return m
    return F.to_json(m)


def pg_vector_value(col, elem_t: str = "double"):
    """pgvector 'vector'/'halfvec' text '[x,y,z]' -> array<double>/
    array<float> (DoubleVector/FloatVector logical types,
    PostgresValueConverter.java:738-766 via Vectors.fromVectorString).
    A value not shaped '[...]' yields NULL — the reference WARNS and
    returns null here (Vectors.java:28-31), unlike the raise-on-malformed
    arms, because pgvector text is produced by the extension itself."""
    t = F.trim(col)
    body = F.regexp_extract(t, r"^\[(.*)\]$", 1)
    arr = F.transform(
        F.split(body, ","), lambda e: F.trim(e).cast(elem_t)
    )
    return F.when(t.rlike(r"^\[.*\]$"), arr)


def pg_sparsevec_value(col):
    """pgvector 'sparsevec' text '{i:v,i2:v2}/dims' -> the engine's
    SparseDoubleVector struct {dimensions, indices[], values[]} (the
    reference's struct{dimensions, vector map} reshaped to the repo's
    computable contract — analytics/sparse.py consumes it directly;
    semantics per Vectors.fromSparseVectorString:42-70, including the
    empty '{}/n' vector). Malformed text -> NULL (reference warns)."""
    t = F.trim(col)
    valid = t.rlike(r"^\{[^}]*\}\s*/\s*\d+$")
    body = F.regexp_extract(t, r"^\{([^}]*)\}", 1)
    dims = F.regexp_extract(t, r"/\s*(\d+)\s*$", 1).cast("int")
    entries = F.filter(
        F.split(body, ","), lambda e: F.trim(e) != ""
    )
    idx = F.transform(
        entries,
        lambda e: F.trim(F.split_part(e, F.lit(":"), F.lit(1))).cast("int"),
    )
    vals = F.transform(
        entries,
        lambda e: F.trim(F.split_part(e, F.lit(":"), F.lit(2)))
        .cast("double"),
    )
    return F.when(
        valid,
        F.struct(
            dims.alias("dimensions"),
            idx.alias("indices"),
            vals.alias("values"),
        ),
    )


# TIMETZ text grammar (PostgresValueConverter.java:167-168's
# TIMETZ_PATTERN verbatim): clock with optional 1-6 fraction digits and
# an offset given as +HH, +HH:MM or +HH:MM:SS. Hour 24 (PG's end-of-day
# boundary) is only legal through the boundary short-circuit below.
_PG_TIMETZ_PAT = (
    r"^(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?"
    r"([+-]\d{2}(?::\d{2}(?::\d{2})?)?)$"
)
# end-of-day boundary at UTC (PostgresTimeBoundary.java:19)
_PG_TIMETZ_BOUNDARY = r"^24:00:00(?:\.0{1,6})?(?:Z|[+-]00(?::?00)?)$"


def _pg_time_micros(col):
    """TIME text 'HH:MM:SS[.ffffff]' -> µs since midnight by PURE
    INTEGER arithmetic — never to_timestamp, whose epoch anchor shifts
    with the session timezone (a non-UTC driver session would corrupt
    every value, and a DST-gap wall time would shift by the wrong
    offset). The grammar is fixed-width left of the fraction, so after
    ONE validation rlike the components read by plain substr — the old
    form re-ran the full pattern 4x per cell (one regexp_extract per
    group), the dominant cost of the TIME/TIME[] arms (guide §4.1:
    cheaper built-ins before anything else). substr/cast only evaluate
    under the rlike short-circuit, so malformed text still reaches the
    raise_error arm, never a CAST_INVALID_INPUT."""
    pat = r"^(\d{2}):(\d{2}):(\d{2})(?:\.(\d{1,6}))?$"
    h = col.substr(1, 2).cast("long")
    m = col.substr(4, 2).cast("long")
    s = col.substr(7, 2).cast("long")
    frac = F.when(F.length(col) > 8, col.substr(F.lit(10), F.length(col)))
    micros = F.when(frac.isNull(), F.lit(0)).otherwise(
        F.rpad(frac, 6, "0").cast("long")
    )
    return (
        F.when(col.isNull(), F.lit(None).cast("long"))
        .when(
            col.rlike(pat) & (h <= 24) & (m <= 59) & (s <= 59),
            (h * 3600 + m * 60 + s) * F.lit(1_000_000) + micros,
        )
        .otherwise(
            F.raise_error(
                F.concat(F.lit("malformed time text: "), col)
            ).cast("long")
        )
    )


def _timetz_parts(col):
    """Positional decomposition of TIMETZ text ALREADY validated against
    ``_PG_TIMETZ_PAT``: one char-class split into the clock and offset
    halves ('+'/'-' appears exactly once, as the offset sign — a timetz
    clock is never negative), then plain ':'/'.' splits. Returns
    (h, m, s, frac-or-null, offset_seconds). Replaces the old form's ~8
    full-pattern regexp_extract passes per cell (each group its own
    engine run) with one trivial split each (guide §4.1); byte-identical
    on the validated domain because the splits read the same groups the
    anchored pattern defined. Only ever evaluated under the caller's
    rlike short-circuit."""
    halves = F.split(col, r"[+-]", 2)
    cparts = F.split(F.get(halves, 0), r"[:.]")
    h = F.get(cparts, 0).cast("long")
    m = F.get(cparts, 1).cast("long")
    s = F.get(cparts, 2).cast("long")
    frac = F.get(cparts, 3)
    sign = F.when(col.contains("-"), F.lit(-1)).otherwise(F.lit(1))
    oparts = F.split(F.get(halves, 1), ":")

    def opart(i):
        return F.coalesce(F.get(oparts, i).cast("long"), F.lit(0))

    off_secs = sign * (opart(0) * 3600 + opart(1) * 60 + opart(2))
    return h, m, s, frac, off_secs


def pg_timetz_value(col):
    """TIMETZ text ('HH:MM:SS[.ffffff]±HH[:MM[:SS]]') -> the reference's
    ZonedTime ISO string (PostgresValueConverter.java:1108-1128): parse,
    shift same-instant to UTC (wrapping through midnight — OffsetTime
    arithmetic is mod 24 h), render ISO_OFFSET_TIME — 'HH:MM:SS',
    trailing-zero-stripped fraction, 'Z'. The end-of-day boundary
    '24:00:00[+00]' short-circuits to the pinned '24:00:00Z'
    (PostgresTimeBoundary.java:16-22, isTimeWithTimeZoneBoundaryAtUtc)
    because OffsetTime cannot represent hour 24. Malformed text raises —
    the reference's default-mode OffsetTime.parse throws the same way."""
    h, m, s, frac, off_secs = _timetz_parts(col)
    micros = F.when(frac.isNull(), F.lit(0)).otherwise(
        F.rpad(frac, 6, "0").cast("long")
    )
    off_us = off_secs * F.lit(1_000_000)
    utc_us = F.pmod(
        (h * 3600 + m * 60 + s) * F.lit(1_000_000) + micros - off_us,
        F.lit(86_400_000_000),
    )
    fr = F.regexp_replace(
        F.format_string("%06d", utc_us % 1_000_000), r"0+$", ""
    )
    rendered = F.concat(
        F.format_string(
            "%02d:%02d:%02d",
            F.floor(utc_us / F.lit(3_600_000_000)).cast("long"),
            F.floor((utc_us % 3_600_000_000) / F.lit(60_000_000))
            .cast("long"),
            F.floor((utc_us % 60_000_000) / F.lit(1_000_000)).cast("long"),
        ),
        F.when(fr == "", F.lit("")).otherwise(F.concat(F.lit("."), fr)),
        F.lit("Z"),
    )
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(col.rlike(_PG_TIMETZ_BOUNDARY), F.lit("24:00:00Z"))
        # the shared TIMETZ_PATTERN is \d{1,2}/\d{2}-lenient because
        # STRUCTURED mode delivers raw components (incl. hour 24);
        # default mode's OffsetTime.parse rejects out-of-range clock
        # fields, and the boundary arm above is the only legal 24 — so a
        # non-boundary hour > 23 or minute/second > 59 is malformed here
        .when(
            col.rlike(_PG_TIMETZ_PAT) & (h <= 23) & (m <= 59) & (s <= 59),
            rendered,
        )
        .otherwise(
            F.raise_error(
                F.concat(F.lit("malformed timetz text: "), col)
            ).cast("string")
        )
    )


def pg_timetz_struct_value(col, precision: int = -1):
    """STRUCTURED-mode TIMETZ (temporal.precision.mode=structured):
    raw clock components + the ORIGINAL offset, no UTC normalization —
    hour 24 survives as-is, which OffsetTime cannot represent
    (PostgresValueConverter.convertTimeWithZoneToStructuredPreservingOffset
    :1131-1160, StructuredZonedTime.java:25-66: hour/minute/second as
    int8, nanos + offset_seconds + precision as int32). The reference
    WARNS and falls back on unparseable text; here one validation rlike
    gates the positional parse so a non-matching value yields the same
    all-zero fallback struct."""
    ok = col.rlike(_PG_TIMETZ_PAT)
    ph, pm, ps, pfrac, poff = _timetz_parts(col)

    def g(part, typ):
        return F.when(ok, part.cast(typ)).otherwise(F.lit(0).cast(typ))

    nanos = F.when(
        ok & pfrac.isNotNull(),
        (F.rpad(pfrac, 9, "0")).cast("int"),
    ).otherwise(F.lit(0))
    off_secs = F.when(ok, poff).otherwise(F.lit(0))
    return F.when(
        col.isNotNull(),
        F.struct(
            g(ph, "tinyint").alias("hour"),
            g(pm, "tinyint").alias("minute"),
            g(ps, "tinyint").alias("second"),
            nanos.alias("nanos"),
            off_secs.cast("int").alias("offset_seconds"),
            F.lit(precision).cast("int").alias("precision"),
        ),
    )


def pg_bits_value(col, length: int):
    """BIT(n)/VARBIT bit-string text ('10110') -> io.debezium.data.Bits:
    little-endian bytes re-sized to the CONTENT's highest set bit, not
    the declared length (PostgresValueConverter.java:916-948 — the
    BitSet is built rightmost-char = bit 0, then toByteArray() drops
    trailing zero bytes, so b'101' in a BIT VARYING(33) ships one byte).
    ``length`` (the declared bit length, pg_attribute.atttypmod for bit
    types) == 1 maps to boolean, the BIT(1)/VARBIT(1) special case
    (:899-912). All-zero strings ship zero bytes (BitSet.toByteArray()
    on an empty set). Pure Catalyst: 8-char chunks from the right, each
    conv(…, 2, 10) -> one hex pair, unhex once."""
    if length == 1:
        return (
            F.when(col == "1", F.lit(True))
            .when(col == "0", F.lit(False))
            .when(
                col.isNotNull(),
                F.raise_error(
                    F.concat(F.lit("malformed bit(1) text: "), col)
                ).cast("boolean"),
            )
        )
    stripped = F.regexp_replace(col, r"^0+", "")
    nbytes = F.ceil(F.length(stripped) / F.lit(8)).cast("int")
    pad = F.lpad(stripped, (nbytes * 8).cast("int"), "0")

    def byte_hex(j):
        chunk = pad.substr(F.length(pad) - j * 8 + 1, F.lit(8))
        return F.lpad(F.hex(F.conv(chunk, 2, 10).cast("long")), 2, "0")

    hexstr = F.aggregate(
        F.sequence(F.lit(1), nbytes),
        F.lit(""),
        lambda acc, j: F.concat(acc, byte_hex(j)),
    )
    return (
        F.when(col.isNull(), F.lit(None).cast("binary"))
        .when(
            ~col.rlike(r"^[01]+$"),
            F.raise_error(
                F.concat(F.lit("malformed bit-string text: "), col)
            ).cast("binary"),
        )
        .when(stripped == "", F.unhex(F.lit("")))
        .otherwise(F.unhex(hexstr))
    )


# Hex EWKB for GEOMETRYCOLLECTION EMPTY — the reference's fallback value
# when a geometry cell fails to parse (PostgisGeometry.java:24,
# convertGeometry's createEmpty() + warn at PostgresValueConverter.java:
# 1258-1281; it logs instead of failing the task).
_EWKB_EMPTY = "010700000000000000"
_EWKB_SRID_FLAG = 0x20000000


def _hex_le32(hx):
    """Reverse a fixed 8-hex-char (4-byte) slice's byte pairs."""
    return F.concat(
        hx.substr(7, 2), hx.substr(5, 2), hx.substr(3, 2), hx.substr(1, 2)
    )


def pg_ewkb_value(col):
    """PostGIS hex-EWKB text -> the Geometry/Geography logical struct
    {wkb: binary, srid: int-nullable} (data/geometry/Geometry.java:25;
    PostgisGeometry.fromHexEwkb keeps the FULL EWKB bytes as wkb and
    extracts srid from the header, PostgisGeometry.java:46-58,100-125):
    byte 0 picks endianness, the 4-byte type word's 0x20000000 flag
    gates a 4-byte srid right after it. Unparseable text degrades to
    GEOMETRYCOLLECTION EMPTY with NULL srid — the reference WARNS and
    falls back rather than failing (convertGeometry:1258-1281), because
    geometry text is produced by the PostGIS extension itself."""
    hx = F.lower(col)
    valid = hx.rlike(r"^(?:[0-9a-f]{2}){9,}$")
    little = hx.substr(1, 2) == "01"
    type_raw = hx.substr(3, 8)
    type_hex = F.when(little, _hex_le32(type_raw)).otherwise(type_raw)
    type_val = F.conv(type_hex, 16, 10).cast("long")
    srid_raw = hx.substr(11, 8)
    srid_hex = F.when(little, _hex_le32(srid_raw)).otherwise(srid_raw)
    has_srid = type_val.bitwiseAND(F.lit(_EWKB_SRID_FLAG)) != 0
    srid = F.when(
        valid & has_srid, F.conv(srid_hex, 16, 10).cast("long").cast("int")
    )
    wkb = F.when(valid, F.unhex(hx)).otherwise(F.unhex(F.lit(_EWKB_EMPTY)))
    return F.when(
        col.isNotNull(),
        F.struct(wkb.alias("wkb"), srid.alias("srid")),
    )


def pg_interval_iso(col):
    """PG interval text ('1 year 2 mons 3 days 04:05:06.789', pieces
    optional, time sign distributing over h/m/s) -> the reference's
    ISO-8601 duration string (interval.handling.mode=string,
    Interval.toIsoString)."""
    from debezium_spark.operators.handling import interval_iso

    def part(pat):
        # regexp_extract yields '' on no match; nullif before the ANSI cast
        return F.coalesce(
            F.nullif(F.regexp_extract(col, pat, 1), F.lit("")).cast("long"),
            F.lit(0),
        )

    neg_time = F.regexp_extract(col, r"(-)\d+:\d{2}:\d{2}", 1) == "-"
    sign = F.when(neg_time, F.lit(-1)).otherwise(F.lit(1))
    secs = F.coalesce(
        F.nullif(
            F.regexp_extract(col, r"-?\d+:\d{2}:(\d{2}(?:\.\d+)?)", 1),
            F.lit(""),
        ).cast("decimal(18,6)"),
        F.lit(0).cast("decimal(18,6)"),
    )
    return interval_iso(
        part(r"(-?\d+) years?"),
        part(r"(-?\d+) mons?"),
        part(r"(-?\d+) days?"),
        sign * part(r"-?(\d+):\d{2}:\d{2}"),
        sign * part(r"-?\d+:(\d{2}):\d{2}"),
        (sign.cast("decimal(18,6)") * secs),
    )


def numeric_type_for(atttypmod: int) -> str:
    """NUMERIC(p,s) from the relation's atttypmod: PG packs
    ((p << 16) | s) + 4; unconstrained NUMERIC (typmod -1) maps to the
    widest Spark decimal — the reference's VariableScaleDecimal case."""
    if atttypmod is None or atttypmod < 4:
        return "decimal(38,18)"
    p = ((atttypmod - 4) >> 16) & 0xFFFF
    s = (atttypmod - 4) & 0xFFFF
    return f"decimal({p},{s})"


def pg_typed_value(col, type_oid: int, atttypmod: int = -1,
                   include_unknown: bool = False, ndims: int = 1,
                   hstore_oids: frozenset = frozenset(),
                   hstore_mode: str = "map",
                   ext_oids: dict[int, str] | None = None,
                   timetz_mode: str = "string"):
    """One pgoutput text cell -> typed Spark column, dispatched on the
    relation's column OID (PostgresValueConverter.java:112,286-324).

    Text forms are PG's own output formats: bool 't'/'f'; bytea hex
    '\\x…'; date/timestamp ISO; time 'HH:MM:SS[.ffffff]' (surfaced as
    io.debezium.time.MicroTime int64 µs-since-midnight, the reference's
    logical type); arrays via the real array_out grammar (quoted
    elements with embedded commas/braces and escaped quotes, NULL vs
    "NULL", one nesting level — ``ndims`` comes from
    pg_attribute.attndims since array OIDs don't encode it); interval
    as the ISO-8601 duration string (interval.handling.mode=string);
    money as decimal(19,2) with the currency symbol and group commas
    stripped; inet/cidr/macaddr as validated strings; point as a
    struct<x:double,y:double> (the reference's geometry.Point x/y pair).
    Unknown OIDs raise by default — silent string passthrough would
    corrupt a sink schema; ``include_unknown=True`` opts into the
    reference's include.unknown.datatypes behavior (custom types
    announced via 'Y' messages surface as their text form)."""
    if type_oid == PG_BOOL:
        return F.when(col == "t", F.lit(True)).when(col == "f", F.lit(False))
    if type_oid == PG_BYTEA:
        # text form is '\x' + lowercase hex
        return F.unhex(col.substr(F.lit(3), F.length(col)))
    if type_oid == PG_INT2:
        return col.cast("smallint")
    if type_oid == PG_INT4:
        return col.cast("int")
    if type_oid in (PG_INT8, PG_OID_T):
        return col.cast("long")
    if type_oid == PG_FLOAT4:
        return col.cast("float")
    if type_oid == PG_FLOAT8:
        return col.cast("double")
    if type_oid == PG_NUMERIC:
        return col.cast(numeric_type_for(atttypmod))
    if type_oid in _PG_STRING_OIDS:
        return col
    if type_oid == PG_DATE:
        return col.cast("date")
    if type_oid == PG_TIME:
        # µs-since-midnight (MicroTime) by integer arithmetic — the old
        # to_timestamp formulation anchored to the SESSION timezone's
        # 1970-01-01 and shifted every value under a non-UTC driver
        return _pg_time_micros(col)
    if type_oid == PG_TIMESTAMP:
        return col.cast("timestamp_ntz")
    if type_oid == PG_TIMESTAMPTZ:
        return col.cast("timestamp")
    if type_oid in _PG_ARRAY_ELEM:
        return pg_array_value(col, _PG_ARRAY_ELEM[type_oid], ndims)
    if type_oid == PG_INTERVAL:
        return pg_interval_iso(col)
    if type_oid == PG_MONEY:
        # money_out: optional '-', currency symbol, group separators
        body = F.regexp_replace(col, r"[$,]", "")
        return body.cast("decimal(19,2)")
    if type_oid in (PG_INET, PG_CIDR, PG_MACADDR, PG_MACADDR8):
        # the reference surfaces these as strings
        # (PostgresValueConverter.java:258,507 adds MACADDR8); validate
        # the shape so a framing bug can't smuggle garbage into a string
        # column — macaddr8 is 8 colon-joined pairs, macaddr 6
        pat = (
            r"^[0-9a-f]{2}(:[0-9a-f]{2}){5}$" if type_oid == PG_MACADDR
            else r"^[0-9a-f]{2}(:[0-9a-f]{2}){7}$"
            if type_oid == PG_MACADDR8
            else r"^[0-9a-fA-F:.]+(/\d{1,3})?$"
        )
        return F.when(col.isNull(), F.lit(None).cast("string")).when(
            col.rlike(pat), col
        ).otherwise(
            F.raise_error(F.concat(
                F.lit(f"malformed text for pg type OID {type_oid}: "), col
            )).cast("string")
        )
    if type_oid == PG_POINT:
        # point_out '(x,y)' -> the reference's geometry.Point x/y pair
        return F.struct(
            F.regexp_extract(col, r"^\(([^,]+),", 1).cast("double")
            .alias("x"),
            F.regexp_extract(col, r",([^)]+)\)$", 1).cast("double")
            .alias("y"),
        )
    if type_oid in _PG_RANGE_OIDS:
        # range_out: 'empty' or a bracketed pair — the reference passes
        # the text through as a string (convertString); validate the
        # envelope so framing bugs can't smuggle arbitrary text into a
        # column consumers parse as a range
        return F.when(col.isNull(), F.lit(None).cast("string")).when(
            (col == "empty") | col.rlike(r"^[\[(].*,.*[\])]$"), col
        ).otherwise(
            F.raise_error(F.concat(
                F.lit(f"malformed range text for pg type OID {type_oid}: "),
                col,
            )).cast("string")
        )
    if type_oid == PG_TIMETZ:
        # temporal.precision.mode: the default ZonedTime ISO string, or
        # STRUCTURED raw components (PostgresValueConverter.java:241-247)
        if timetz_mode == "structured":
            # timetz's atttypmod IS its declared fractional precision
            return pg_timetz_struct_value(
                col,
                precision=atttypmod if atttypmod is not None else -1,
            )
        if timetz_mode != "string":
            raise ValueError(
                f"timetz_mode must be 'string' or 'structured', "
                f"got {timetz_mode!r}"
            )
        return pg_timetz_value(col)
    if type_oid == PG_TIMETZ_ARRAY:
        # array of ZonedTime strings (schemaBuilder :325-329, converted
        # through createArrayConverter :560-566). timetz text has no
        # array specials, elements arrive unquoted.
        return pg_array_value(col, "", ndims, custom=pg_timetz_value)
    if type_oid == PG_TIME_ARRAY:
        # array of MicroTime int64 µs-since-midnight, the scalar TIME arm
        # element-wise (:322-324); same tz-proof integer parse
        return pg_array_value(
            col, "", ndims, null_type="long", custom=_pg_time_micros,
        )
    if type_oid == PG_BYTEA_ARRAY:
        # array of bytes (:336-337): elements are '\x…' hex, quoted by
        # array_out (backslash is a special) and unescaped by the
        # tokenizer before this conversion sees them
        return pg_array_value(
            col, "", ndims, null_type="binary",
            custom=lambda e: F.unhex(e.substr(F.lit(3), F.length(e))),
        )
    if type_oid in (PG_BIT, PG_VARBIT):
        # bit types carry their declared bit length directly in atttypmod
        # (no VARHDRSZ offset); -1 = unconstrained VARBIT -> bytes form
        return pg_bits_value(col, atttypmod)
    if type_oid in _PG_UNIMPLEMENTED_ARRAY_OIDS:
        raise ValueError(
            f"pg type {_PG_UNIMPLEMENTED_ARRAY_OIDS[type_oid]} (OID "
            f"{type_oid}) has no defined mapping: the reference leaves "
            "TIMETZ/BIT/VARBIT arrays unimplemented and omits the column "
            "(PostgresValueConverter.java:324-347)"
        )
    if type_oid in hstore_oids:
        # hstore's OID is installation-specific (an extension type, looked
        # up via the reference's TypeRegistry.hstoreOid()) — callers pass
        # the oid(s) their installation assigned
        return pg_hstore_value(col, hstore_mode)
    ext = (ext_oids or {}).get(type_oid)
    if ext is not None:
        # other extension types the reference resolves via TypeRegistry
        # (PostgresValueConverter.java:362-378): pgvector's three types
        # and ltree. Installation-specific OIDs, so name-keyed here.
        if ext == "vector":
            return pg_vector_value(col, "double")
        if ext == "halfvec":
            return pg_vector_value(col, "float")
        if ext == "sparsevec":
            return pg_sparsevec_value(col)
        if ext == "hstore_array":
            # array of hstore (PostgresValueConverter.java:377-378):
            # every element is quoted in array_out (hstore text always
            # carries '"' and ','), so unquote then parse per element.
            # The element schema follows hstore_mode like the scalar arm
            # (hstoreSchema():436-445 builds the array element from the
            # configured mode): map mode -> array<map>, json mode ->
            # array of JSON object strings.
            elem_null_t = (
                "map<string,string>" if hstore_mode == "map" else "string"
            )
            inner = col.substr(F.lit(2), F.length(col) - 2)
            tokens = F.regexp_extract_all(inner, F.lit(_PG_ARR_TOKEN), 1)
            return F.when(
                col.isNotNull(),
                F.transform(
                    tokens,
                    lambda e: F.when(
                        e == "NULL", F.lit(None).cast(elem_null_t)
                    ).otherwise(
                        pg_hstore_value(_pg_unquote(e), hstore_mode)
                    ),
                ),
            )
        if ext == "citext":
            # case-insensitive text -> plain string
            # (PostgresValueConverter.java:356-359,586 convertCitext)
            return col
        if ext == "citext_array":
            # array of citext -> array<string> (:383-384,608)
            return pg_array_value(col, "", ndims)
        if ext in ("geometry", "geography"):
            # PostGIS installation-keyed OIDs
            # (PostgresValueConverter.java:350-356 via typeRegistry
            # .geometryOid()/geographyOid()) — hex EWKB to the
            # struct{wkb,srid} the T14 geometry SMTs consume
            return pg_ewkb_value(col)
        if ext in ("geometry_array", "geography_array"):
            # array of Geometry/Geography (:359-360,381-382): hex EWKB
            # has no special chars so array_out leaves elements unquoted
            inner = col.substr(F.lit(2), F.length(col) - 2)
            tokens = F.regexp_extract_all(
                inner, F.lit(_PG_ARR_TOKEN_FLAT), 1
            )
            return F.when(
                col.isNotNull(),
                F.transform(
                    tokens,
                    lambda e: F.when(e != "NULL", pg_ewkb_value(e)),
                ),
            )
        if ext == "ltree":
            # label path 'a.b.c' -> string (Ltree.builder); validate the
            # dotted-label envelope
            return F.when(col.isNull(), F.lit(None).cast("string")).when(
                col.rlike(r"^[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)*$"), col
            ).otherwise(
                F.raise_error(F.concat(
                    F.lit("malformed ltree path: "), col
                )).cast("string")
            )
        raise ValueError(f"unknown extension type name {ext!r}")
    if include_unknown:
        return col  # the text form, the reference's opt-in passthrough
    raise ValueError(
        f"no typed mapping for pg type OID {type_oid} — refusing to pass "
        "through as text (PostgresValueConverter covers it; extend the "
        "dispatch, or opt in via include_unknown)"
    )


def typed_projection(
    decoded: DataFrame,
    registry: DataFrame,
    schema: str,
    table: str,
    src: str = "after",
    include_unknown: bool = False,
    array_dims: dict[str, int] | None = None,
    hstore_oids: frozenset = frozenset(),
    hstore_mode: str = "map",
    ext_oids: dict[int, str] | None = None,
    timetz_mode: str = "string",
) -> DataFrame:
    """Project one relation's decoded text envelope into TYPED columns
    driven by the relation registry's (col_names, col_oids, col_typmods)
    — the completion of the binary decode: downstream pipelines get
    DecimalType-from-atttypmod, TimestampType-from-ISO-text, arrays,
    bytea… instead of re-implementing type mapping ad hoc.
    ``array_dims`` maps column name -> dimensionality for array columns
    (PG's pg_attribute.attndims — the wire 'R' message doesn't carry it,
    the reference reads it from JDBC metadata); unlisted arrays are 1-D.

    Version-aware: each registry version's [valid_from, valid_to) LSN
    window projects with ITS OWN name/OID/typmod list (a column added or
    retyped mid-stream converts correctly on both sides of the change),
    and the windows union by NAME — pre-evolution rows surface later
    columns as typed NULLs. The version read is one bounded driver
    collect (same budget as the registry itself); each window is a
    codegen filter+project branch over the same scan."""
    vers = (
        registry.filter(
            (F.col("schema") == schema) & (F.col("table") == table)
        )
        .orderBy(F.col("valid_from_lsn"))
        .select(
            "col_names", "col_oids", "col_typmods",
            "valid_from_lsn", "valid_to_lsn",
        )
        .collect()
    )
    if not vers:
        raise ValueError(f"relation {schema}.{table} not in registry")
    scoped = decoded.filter(
        (F.col("schema") == schema) & (F.col("table") == table)
    )
    src_col = F.col(src)
    frames = []
    for ver in vers:
        typed = [
            pg_typed_value(src_col[name], oid, mod,
                           include_unknown=include_unknown,
                           ndims=(array_dims or {}).get(name, 1),
                           hstore_oids=hstore_oids,
                           hstore_mode=hstore_mode,
                           ext_oids=ext_oids,
                           timetz_mode=timetz_mode,
                           ).alias(name)
            for name, oid, mod in zip(
                ver["col_names"], ver["col_oids"], ver["col_typmods"]
            )
        ]
        frames.append(
            scoped.filter(
                (F.col("lsn") >= ver["valid_from_lsn"])
                & (F.col("lsn") < ver["valid_to_lsn"])
            ).select("lsn", "op", "xid", "commit_ts_us", *typed)
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out
