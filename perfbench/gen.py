"""Seeded input generators and reference results for the benchmark.

Everything here is plain Python, numpy and pyarrow: the wire encoders are
written from the protocol layouts, not borrowed from the engine, so the
inputs stay byte-identical across engine commits and a bug shared by an
engine encoder and its decoder cannot hide from the correctness check.
The engine never sees the seed, only the files written here.

Each CDC generator also folds its own logical event list into the
reference final table (last op per key over the snapshot, deletes
removed), which is what the sink must hold after the run.
"""

from __future__ import annotations

import os
import random
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ("active", "frozen", "closed", "pending")
MASK = "***"
DB, SCHEMA, TABLE = "shop", "public", "accounts"
ROW_FIELDS = (("id", pa.int64()), ("balance", pa.int64()),
              ("status", pa.string()), ("note", pa.string()))
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu amber basalt cedar dune ember fjord glade "
    "harbor island jungle karst lagoon mesa nebula orchard prairie quartz "
    "ridge savanna tundra upland valley willow yard zenith"
).split()


# ---------------------------------------------------------------------------
# logical change log
# ---------------------------------------------------------------------------
@dataclass
class ChangeLog:
    """A snapshot plus committed transactions, grouped into batches.

    ``batches[i]`` is a list of transactions; a transaction is a list of
    ``(op, id, row)`` with ``row = (balance, status, note)`` (the before
    image for deletes)."""

    snapshot: dict[int, tuple]
    hot_keys: list[int]
    batches: list[list[list[tuple]]] = field(default_factory=list)

    @property
    def n_events(self) -> int:
        return sum(len(tx) for b in self.batches for tx in b)


def _note(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 5)))


def _snapshot(rng: random.Random, n: int, notes: list[str]) -> dict[int, tuple]:
    nprng = np.random.default_rng(rng.getrandbits(63))
    bal = nprng.integers(-10**6, 10**9, n).tolist()
    st = nprng.integers(0, len(STATUSES), n).tolist()
    nt = nprng.integers(0, len(notes), n).tolist()
    return {k: (bal[k], STATUSES[st[k]], notes[nt[k]]) for k in range(n)}


class _KeyPicker:
    """Draws keys from a fixed key space, Zipf-skewed (``zipf_s``) or
    uniform (``zipf_s=None``); rank r maps to a fixed random id."""

    def __init__(self, rng: random.Random, space: int, zipf_s: float | None):
        self.rng = rng
        self.nprng = np.random.default_rng(rng.getrandbits(63))
        self.perm = self.nprng.permutation(space)
        self.space = space
        if zipf_s is None:
            self.cdf = None
        else:
            w = 1.0 / np.arange(1, space + 1, dtype=np.float64) ** zipf_s
            self.cdf = np.cumsum(w / w.sum())
        self._buf: list[int] = []

    def draw(self) -> int:
        if not self._buf:
            u = self.nprng.random(4096)
            if self.cdf is None:
                ranks = (u * self.space).astype(np.int64)
            else:
                ranks = np.minimum(np.searchsorted(self.cdf, u), self.space - 1)
            self._buf = self.perm[ranks].tolist()
        return self._buf.pop()


class _LiveSet:
    """The live key set with O(1) membership, insert, delete and a uniform
    fallback pick."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def __contains__(self, k):
        return k in self.pos

    def add(self, k):
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.pos[last] = i


def make_change_log(
    seed: int,
    *,
    table_rows: int,
    batch_events: list[int],
    zipf_s: float | None,
    mix=(0.2, 0.7, 0.1),
    tx_rows=(12, 20),
) -> ChangeLog:
    """Snapshot of ``table_rows`` rows (ids 0..table_rows-1 of a key space
    25% larger) and one batch of whole transactions per entry of
    ``batch_events``, holding about that many events in an
    insert/update/delete ``mix``.
    Updates and deletes hit live keys, inserts dead ones, as a database
    with a primary key would allow."""
    rng = random.Random(seed)
    space = table_rows + table_rows // 4
    notes = [_note(rng) for _ in range(4096)]
    snapshot = _snapshot(rng, table_rows, notes)
    state = dict(snapshot)
    live = _LiveSet(range(table_rows))
    picker = _KeyPicker(rng, space, zipf_s)
    next_id = space
    p_ins, p_upd, _ = mix
    log = ChangeLog(snapshot=snapshot,
                    hot_keys=[int(k) for k in picker.perm[:16]])
    for events in batch_events:
        batch, n = [], 0
        while n < events:
            tx = []
            for _ in range(rng.randint(*tx_rows)):
                u = rng.random()
                if u < p_ins:
                    k = picker.draw()
                    for _ in range(4):
                        if k not in live:
                            break
                        k = picker.draw()
                    if k in live:
                        k, next_id = next_id, next_id + 1
                    row = (rng.randrange(-10**6, 10**9), rng.choice(STATUSES),
                           rng.choice(notes))
                    live.add(k)
                    state[k] = row
                    tx.append(("c", k, row))
                    continue
                k = picker.draw()
                for _ in range(4):
                    if k in live:
                        break
                    k = picker.draw()
                if k not in live:
                    k = live.keys[rng.randrange(len(live.keys))]
                if u < p_ins + p_upd:
                    old = state[k]
                    row = (old[0] + rng.randrange(-5000, 5000),
                           rng.choice(STATUSES), rng.choice(notes))
                    state[k] = row
                    tx.append(("u", k, row))
                else:
                    tx.append(("d", k, state.pop(k)))
                    live.remove(k)
            batch.append(tx)
            n += len(tx)
        log.batches.append(batch)
    return log


def fold(snapshot: dict, events, *, mask_note: bool = False) -> dict:
    """Reference table: last op per key over the snapshot, deletes removed.
    ``mask_note`` applies the benchmark's mask transform to streamed rows."""
    state = dict(snapshot)
    for op, k, row in events:
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = (row[0], row[1], MASK) if mask_note else row
    return state


def events_of(batches):
    for b in batches:
        for tx in b:
            yield from tx


def table_rows(state: dict) -> list[tuple]:
    return sorted((k, *v) for k, v in state.items())


# ---------------------------------------------------------------------------
# file writers
# ---------------------------------------------------------------------------
def _write_ordered(tbl: pa.Table, path: str, index: int) -> None:
    """Write one log file; mtimes ascend with ``index`` because the file
    stream source replays new files in modification-time order."""
    pq.write_table(tbl, path)
    mt = 1_700_000_000 + index
    os.utime(path, (mt, mt))


def write_snapshot(snapshot: dict, path: str) -> None:
    ids = sorted(snapshot)
    cols = list(zip(*(snapshot[k] for k in ids)))
    pq.write_table(
        pa.table(
            [pa.array(ids, pa.int64()), pa.array(cols[0], pa.int64()),
             pa.array(cols[1], pa.string()), pa.array(cols[2], pa.string())],
            schema=pa.schema(ROW_FIELDS),
        ),
        path,
    )


# -- pgoutput (logical replication protocol v1) ------------------------------
_PG_INT8, _PG_TEXT = 20, 25
_PG_RELID = 16384
_PG_EPOCH_US = 946_684_800_000_000  # 2000-01-01 in Unix microseconds


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _pg_tuple(cells) -> bytes:
    out = bytearray(struct.pack(">h", len(cells)))
    for c in cells:
        if c is None:
            out += b"n"
        else:
            b = c.encode()
            out += b"t" + struct.pack(">i", len(b)) + b
    return bytes(out)


def _pg_cells(k: int, row: tuple) -> list:
    return [str(k), str(row[0]), row[1], row[2]]


def pg_relation() -> bytes:
    cols = ((1, "id", _PG_INT8), (0, "balance", _PG_INT8),
            (0, "status", _PG_TEXT), (0, "note", _PG_TEXT))
    out = (b"R" + struct.pack(">i", _PG_RELID) + _cstr(SCHEMA) + _cstr(TABLE)
           + b"d" + struct.pack(">h", len(cols)))
    for flags, name, oid in cols:
        out += bytes([flags]) + _cstr(name) + struct.pack(">ii", oid, -1)
    return out


def _pg_data(op: str, k: int, row: tuple) -> bytes:
    rel = struct.pack(">i", _PG_RELID)
    if op == "c":
        return b"I" + rel + b"N" + _pg_tuple(_pg_cells(k, row))
    if op == "u":  # REPLICA IDENTITY DEFAULT, key unchanged: no old tuple
        return b"U" + rel + b"N" + _pg_tuple(_pg_cells(k, row))
    return b"D" + rel + b"K" + _pg_tuple([str(k), None, None, None])


def commit_ts_us(tx_index: int) -> int:
    """Unix-epoch commit time of the ``tx_index``-th transaction."""
    return 1_700_000_000_000_000 + tx_index * 1000


def write_pgoutput_log(log: ChangeLog, feed_dir: str) -> int:
    """One parquet file ``(lsn long, msg binary)`` per batch; the first
    starts with the RELATION message. Returns the message count."""
    os.makedirs(feed_dir, exist_ok=True)
    lsn, xid, n_msgs = 0x1000000, 1000, 0
    for bi, batch in enumerate(log.batches):
        lsns, msgs = [], []

        def put(m):
            nonlocal lsn
            lsns.append(lsn)
            msgs.append(m)
            lsn += len(m) + 8

        if bi == 0:
            put(pg_relation())
        for tx in batch:
            xid += 1
            ts = commit_ts_us(xid) - _PG_EPOCH_US
            begin_at = len(msgs)
            put(b"")  # BEGIN is filled once the commit LSN is known
            for ev in tx:
                put(_pg_data(*ev))
            commit_lsn = lsn
            msgs[begin_at] = b"B" + struct.pack(">qqi", commit_lsn, ts, xid)
            put(b"C" + b"\x00" + struct.pack(">qqq", commit_lsn, commit_lsn + 1,
                                             ts))
        n_msgs += len(msgs)
        _write_ordered(
            pa.table({"lsn": pa.array(lsns, pa.int64()),
                      "msg": pa.array(msgs, pa.binary())}),
            os.path.join(feed_dir, f"log_{bi:05d}.parquet"), bi,
        )
    return n_msgs


# -- MySQL binlog v4 (row-based, v2 rows events) ----------------------------
_BL_QUERY, _BL_XID, _BL_TABLE_MAP = 2, 16, 19
_BL_ROWS = {"c": 30, "u": 31, "d": 32}
_BL_LONGLONG, _BL_VARCHAR = 8, 15
_BL_TYPES = (_BL_LONGLONG, _BL_LONGLONG, _BL_VARCHAR, _BL_VARCHAR)
_BL_TABLE_ID = 77
_BL_ROWS_PER_EVENT = 8


def _lenenc(n: int) -> bytes:
    assert n < 0xFB
    return bytes([n])


def _bl_event(type_code: int, body: bytes, log_pos: int, ts: int) -> bytes:
    return struct.pack("<IBIIIH", ts, type_code, 1, 19 + len(body),
                       log_pos, 0) + body


def _bl_table_map() -> bytes:
    meta = struct.pack("<HH", 64, 255)  # VARCHAR(64), VARCHAR(255)
    return (
        _BL_TABLE_ID.to_bytes(6, "little") + struct.pack("<H", 1)
        + bytes([len(DB)]) + DB.encode() + b"\x00"
        + bytes([len(TABLE)]) + TABLE.encode() + b"\x00"
        + _lenenc(4) + bytes(_BL_TYPES) + _lenenc(len(meta)) + meta
        + bytes([0b1110])  # nullable: all but id
    )


def _bl_image(k: int, row: tuple) -> bytes:
    """A full row image: null bitmap, then the four values."""
    s, n = row[1].encode(), row[2].encode()
    return (b"\x00" + struct.pack("<qq", k, row[0]) + bytes([len(s)]) + s
            + bytes([len(n)]) + n)


def _bl_rows(op: str, rows: list[tuple], prev: dict) -> bytes:
    body = bytearray(_BL_TABLE_ID.to_bytes(6, "little") + struct.pack("<HH", 1, 2)
                     + _lenenc(4) + b"\x0f")
    if op == "u":
        body += b"\x0f"
    for k, row in rows:
        if op == "u":
            body += _bl_image(k, prev[k])
        body += _bl_image(k, row)
    return bytes(body)


def write_binlog(log: ChangeLog, feed_dir: str) -> int:
    """One parquet file ``(pos long, msg binary)`` per batch: each
    transaction is QUERY BEGIN, TABLE_MAP, rows events of up to 8 rows
    with distinct keys, XID. Returns the message count."""
    os.makedirs(feed_dir, exist_ok=True)
    state = dict(log.snapshot)
    pos, xid, n_msgs = 4, 0, 0
    for bi, batch in enumerate(log.batches):
        poss, msgs = [], []

        def put(type_code, body):
            nonlocal pos
            pos += 19 + len(body)
            poss.append(pos)
            msgs.append(_bl_event(type_code, body, pos, 1_700_000_000 + xid))

        for tx in batch:
            xid += 1
            put(_BL_QUERY, struct.pack("<II", 1, 0) + bytes([len(DB)])
                + struct.pack("<HH", 0, 0) + DB.encode() + b"\x00" + b"BEGIN")
            put(_BL_TABLE_MAP, _bl_table_map())
            group: list[tuple] = []
            gop = None
            for op, k, row in tx:
                if group and (op != gop or len(group) == _BL_ROWS_PER_EVENT
                              or any(g[0] == k for g in group)):
                    put(_BL_ROWS[gop], _bl_rows(gop, group, state))
                    for gk, grow in group:
                        if gop == "d":
                            state.pop(gk, None)
                        else:
                            state[gk] = grow
                    group = []
                gop = op
                group.append((k, row))
            if group:
                put(_BL_ROWS[gop], _bl_rows(gop, group, state))
                for gk, grow in group:
                    if gop == "d":
                        state.pop(gk, None)
                    else:
                        state[gk] = grow
            put(_BL_XID, struct.pack("<Q", xid))
        n_msgs += len(msgs)
        _write_ordered(
            pa.table({"pos": pa.array(poss, pa.int64()),
                      "msg": pa.array(msgs, pa.binary())}),
            os.path.join(feed_dir, f"log_{bi:05d}.parquet"), bi,
        )
    return n_msgs


# -- pre-encoded envelopes ---------------------------------------------------
def _row_type() -> pa.StructType:
    return pa.struct(list(ROW_FIELDS))


ENVELOPE_ARROW_SCHEMA = pa.schema([
    ("key", pa.struct([("id", pa.int64())])),
    ("before", _row_type()),
    ("after", _row_type()),
    ("op", pa.string()),
    ("source", pa.struct([("db", pa.string()), ("table", pa.string()),
                          ("pos", pa.int64()), ("tx_id", pa.string()),
                          ("snapshot", pa.string())])),
    ("transaction", pa.struct([("id", pa.string()),
                               ("total_order", pa.int64()),
                               ("data_collection_order", pa.int64())])),
    ("ts_ms", pa.int64()), ("ts_us", pa.int64()), ("ts_ns", pa.int64()),
])


def write_envelope_log(log: ChangeLog, feed_dir: str) -> int:
    """One envelope parquet file per batch (no wire format). Returns the
    event count."""
    os.makedirs(feed_dir, exist_ok=True)
    pos, txn, n = 0, 0, 0
    for bi, batch in enumerate(log.batches):
        recs = []
        for tx in batch:
            txn += 1
            ts_us = commit_ts_us(txn)
            for op, k, row in tx:
                pos += 1
                img = {"id": k, "balance": row[0], "status": row[1],
                       "note": row[2]}
                recs.append({
                    "key": {"id": k},
                    "before": img if op == "d" else None,
                    "after": None if op == "d" else img,
                    "op": op,
                    "source": {"db": DB, "table": TABLE, "pos": pos,
                               "tx_id": str(txn), "snapshot": None},
                    "transaction": None,
                    "ts_ms": ts_us // 1000, "ts_us": ts_us,
                    "ts_ns": ts_us * 1000,
                })
        n += len(recs)
        _write_ordered(
            pa.Table.from_pylist(recs, schema=ENVELOPE_ARROW_SCHEMA),
            os.path.join(feed_dir, f"log_{bi:05d}.parquet"), bi,
        )
    return n


# ---------------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------------
SHINGLE_K = 5


def normalize(text: str) -> str:
    """Python twin of the engine's dedup canonical form for the corpus
    alphabet (letters and single/double spaces, no edge whitespace)."""
    return " ".join(text.split()).lower()


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    t = normalize(text)
    if len(t) < k:
        return {t}
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def lsh_hit_probability(s: float, bands: int = 4, rows: int = 2) -> float:
    return 1.0 - (1.0 - s ** rows) ** bands


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    exact_survivors: list[tuple[int, int]]  # (lowest id, copies) per text
    planted_pairs: list[tuple[int, int]]    # near-dup (a < b) among survivors
    recall_floor: float


def _exact_variant(rng: random.Random, text: str) -> str:
    """Same normalized text: random upper-casing and one doubled space."""
    words = [w.upper() if rng.random() < 0.3 else w for w in text.split(" ")]
    i = rng.randrange(len(words) - 1)
    words[i] = words[i] + " "
    return " ".join(words)


def _near_variant(rng: random.Random, text: str, vocab: list[str]) -> str:
    """Replace a few words: shingle Jaccard stays well above 0.5."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // 12)):
        words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def _vocabulary(rng: random.Random, n: int = 20_000) -> tuple[list, list]:
    """Pseudo-words with Zipf(1) cumulative weights, so unrelated
    documents share few 5-shingles, as natural text does. Word length
    cycles 3-9 letters over the ranks, so the mean document length (and
    with it the work) does not depend on which words the seed made
    frequent."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = ["".join(rng.choices(letters, k=3 + r % 7)) for r in range(n)]
    cum = np.cumsum(1.0 / np.arange(1, n + 1)).tolist()
    return vocab, cum


def make_corpus(seed: int, n_docs: int, *, threshold: float) -> Corpus:
    """``n_docs`` documents: 70% unique, 15% exact duplicates (case and
    spacing variants of an earlier document), 15% near duplicates (a few
    words replaced). The recall floor is fixed here from the planted
    pairs' true Jaccard: expected LSH recall minus four standard
    deviations of a binomial over the planted pairs."""
    rng = random.Random(seed)
    vocab, cum = _vocabulary(rng)
    bases: list[int] = []
    texts: dict[int, str] = {}
    docs: list[tuple[int, str]] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        u = rng.random()
        if bases and u < 0.15:
            src = rng.choice(bases)
            text = _exact_variant(rng, texts[src])
        elif bases and u < 0.30:
            src = rng.choice(bases)
            text = _near_variant(rng, texts[src], vocab)
            if normalize(text) != normalize(texts[src]):
                planted.append((src, i))
        else:
            text = " ".join(rng.choices(vocab, cum_weights=cum,
                                        k=rng.randint(30, 60)))
            bases.append(i)
        texts[i] = text
        docs.append((i, text))
    groups: dict[str, list[int]] = {}
    for i, t in docs:
        groups.setdefault(normalize(t), []).append(i)
    survivors = sorted((min(ids), len(ids)) for ids in groups.values())
    surv_ids = {s for s, _ in survivors}
    planted = [
        (min(a, b), max(a, b)) for a, b in planted
        if a in surv_ids and b in surv_ids and jaccard(texts[a], texts[b]) >= threshold
    ]
    probs = [lsh_hit_probability(jaccard(texts[a], texts[b])) for a, b in planted]
    n = max(len(probs), 1)
    mean = sum(probs) / n
    sd = (sum(p * (1 - p) for p in probs) ** 0.5) / n
    return Corpus(docs, survivors, planted, max(0.0, mean - 4 * sd))


def write_corpus(corpus: Corpus, path: str) -> None:
    ids, texts = zip(*corpus.docs)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
