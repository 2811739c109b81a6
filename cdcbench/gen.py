"""Workload generator: MySQL binlog v4 bytes plus the model of what every
sink must hold afterwards.

The writer here is independent of the parser under test: it frames events
from the public binlog v4 layout (19-byte header, CRC32 trailer, TABLE_MAP
metadata, ROWS v2 bitmaps). The model is built from the generator's own
values and the byte positions the writer assigns, never by decoding the
bytes it wrote.

An ``Op`` is one envelope row the source should emit: a control op
(ddl / rotate / gtid / begin / commit) or one row image of a rows event.
"""

from __future__ import annotations

import random
import struct
import zlib
from dataclasses import dataclass, field
from pathlib import Path

MAGIC = b"\xfebin"
SERVER_ID = 7
TS0 = 1_700_000_000
SID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"

# public Log_event_type / enum_field_types codes
EV_QUERY, EV_ROTATE, EV_FDE, EV_XID, EV_TABLE_MAP = 0x02, 0x04, 0x0F, 0x10, 0x13
EV_WRITE, EV_UPDATE, EV_DELETE = 0x1E, 0x1F, 0x20
EV_GTID, EV_PREVIOUS_GTIDS = 0x21, 0x23
T_LONG, T_LONGLONG, T_VARCHAR = 3, 8, 15

DB = "bench"
#: Zipf(1.2) over five tables: the first holds about half of all rows.
TABLES = ("orders", "customers", "items", "payments", "audit_log")
TABLE_WEIGHTS = tuple(1 / (k + 1) ** 1.2 for k in range(len(TABLES)))
HOT = "orders"
#: the table the ordered and protobuf sinks route away
EXCLUDED = "audit_log"
COLUMNS = ("id", "cust", "amount", "note")
COL_TYPES = ((T_LONGLONG, 0), (T_LONG, 0), (T_LONG, 0), (T_VARCHAR, 48))
N_CUST = 20_000
KEY_COLS = ["id"]
VALUE_COLS = ["cust", "amount", "note"]


def ddl(table: str) -> str:
    return (
        f"CREATE TABLE {DB}.{table} (id BIGINT NOT NULL, cust INT, amount INT, "
        "note VARCHAR(48), PRIMARY KEY (id))"
    )


@dataclass
class Op:
    log_name: str
    log_pos: int
    op_type: str
    row_index: int = 0
    table: str | None = None
    before: tuple | None = None
    after: tuple | None = None
    gtid: str | None = None

    @property
    def key(self) -> tuple:
        return (self.log_name, self.log_pos, self.op_type, self.row_index)


def row_strings(row: tuple | None) -> dict | None:
    """A row tuple as the envelope's stringly image map."""
    return None if row is None else {c: str(v) for c, v in zip(COLUMNS, row)}


def seed_row(i: int, seed: int) -> tuple:
    """Row ``i`` of the hot table as it stands before the binlog begins
    (the state the snapshot is seeded with)."""
    return (
        i,
        (i * 7919 + seed) % N_CUST,
        (i * 104729 + seed * 13) % 100_000,
        f"s{(i * 31 + seed) % 1_000_003}",
    )


# --- binlog writer ------------------------------------------------------------


class BinlogWriter:
    """Appends CRC32-framed events to an in-memory file image and returns
    each event's end position (its ``log_pos``)."""

    def __init__(self, name: str, start: bytes | None = None) -> None:
        self.name = name
        self.buf = bytearray(start if start is not None else MAGIC)

    @property
    def pos(self) -> int:
        return len(self.buf)

    def event(self, etype: int, body: bytes, ts: int = TS0) -> int:
        size = 19 + len(body) + 4
        end = len(self.buf) + size
        head = struct.pack("<IBIIIH", ts, etype, SERVER_ID, size, end, 0) + body
        self.buf += head + struct.pack("<I", zlib.crc32(head) & 0xFFFFFFFF)
        return end

    def fde(self) -> int:
        post = bytearray(41)
        for etype, n in ((EV_QUERY, 13), (EV_ROTATE, 8), (EV_TABLE_MAP, 8),
                         (EV_WRITE, 10), (EV_UPDATE, 10), (EV_DELETE, 10)):
            post[etype - 1] = n
        body = (struct.pack("<H", 4) + b"8.0.36-log".ljust(50, b"\0")
                + struct.pack("<I", TS0) + bytes([19]) + bytes(post) + bytes([1]))
        return self.event(EV_FDE, body)

    def previous_gtids(self, upto: int) -> int:
        body = struct.pack("<Q", 1 if upto else 0)
        if upto:
            body += bytes.fromhex(SID.replace("-", "")) + struct.pack("<QQQ", 1, 1, upto + 1)
        return self.event(EV_PREVIOUS_GTIDS, body)

    def query(self, sql: str, ts: int = TS0) -> int:
        db = DB.encode()
        body = struct.pack("<IIBHH", 1, 0, len(db), 0, 0) + db + b"\0" + sql.encode()
        return self.event(EV_QUERY, body, ts)

    def gtid(self, gno: int, ts: int) -> int:
        body = b"\x01" + bytes.fromhex(SID.replace("-", "")) + struct.pack("<q", gno)
        return self.event(EV_GTID, body, ts)

    def table_map(self, table_id: int, table: str, ts: int) -> int:
        body = table_id.to_bytes(6, "little") + b"\x01\x00"
        body += bytes([len(DB)]) + DB.encode() + b"\0"
        body += bytes([len(table)]) + table.encode() + b"\0"
        body += bytes([len(COL_TYPES)]) + bytes(t for t, _ in COL_TYPES)
        meta = (48).to_bytes(2, "little")  # VARCHAR max length
        body += bytes([len(meta)]) + meta + b"\x00"
        return self.event(EV_TABLE_MAP, body, ts)

    @staticmethod
    def _image(row: tuple) -> bytes:
        note = row[3].encode()
        return (b"\x00" + struct.pack("<qii", row[0], row[1], row[2])
                + bytes([len(note)]) + note)

    def rows(self, etype: int, table_id: int, rows: list, ts: int) -> int:
        body = table_id.to_bytes(6, "little") + b"\x01\x00" + struct.pack("<H", 2)
        body += bytes([len(COL_TYPES)]) + b"\xff"
        if etype == EV_UPDATE:
            body += b"\xff"
            body += b"".join(self._image(b) + self._image(a) for b, a in rows)
        else:
            body += b"".join(self._image(r) for r in rows)
        return self.event(etype, body, ts)

    def xid(self, n: int, ts: int) -> int:
        return self.event(EV_XID, struct.pack("<Q", n), ts)

    def rotate(self, next_name: str) -> int:
        return self.event(EV_ROTATE, struct.pack("<Q", 4) + next_name.encode())


# --- transaction generator ------------------------------------------------------


#: shares of insert and update row ops (the rest are deletes)
INSERT_SHARE, UPDATE_SHARE = 0.80, 0.15
ROWS_PER_EVENT = (1, 4)
EVENTS_PER_TRX = (1, 3)


@dataclass
class TableState:
    """Live rows of one table: ``rows[id] = tuple`` plus a dense id list
    for O(1) skewed sampling and swap-removal."""

    rows: dict = field(default_factory=dict)
    ids: list = field(default_factory=list)
    where: dict = field(default_factory=dict)
    next_id: int = 1

    def add(self, row: tuple) -> None:
        self.rows[row[0]] = row
        self.where[row[0]] = len(self.ids)
        self.ids.append(row[0])

    def remove(self, rid: int) -> None:
        del self.rows[rid]
        i = self.where.pop(rid)
        last = self.ids.pop()
        if last != rid:
            self.ids[i] = last
            self.where[last] = i


class Generator:
    """Deterministic transaction stream for one seed. Keeps the model
    state of every table so update/delete images are the rows the
    table really holds."""

    def __init__(self, seed: int, seeded_rows: int = 0) -> None:
        self.rng = random.Random(seed)
        self.state = {t: TableState() for t in TABLES}
        hot = self.state[HOT]
        for i in range(1, seeded_rows + 1):
            hot.add(seed_row(i, seed))
        hot.next_id = seeded_rows + 1
        self.gno = 0
        self.xid = 0
        self.table_ids = {t: 100 + i for i, t in enumerate(TABLES)}

    def _new_row(self, st: TableState) -> tuple:
        rid = st.next_id
        st.next_id += 1
        r = self.rng
        return (rid, r.randrange(N_CUST), r.randrange(100_000), f"n{r.getrandbits(36):x}")

    def _pick(self, st: TableState) -> int:
        n = len(st.ids)
        return st.ids[min(n - 1, int(n * self.rng.random()))]

    def _event_rows(self, table: str) -> tuple[int, list]:
        """One rows event's kind and images, applied to the model."""
        st = self.state[table]
        r = self.rng
        n = r.randint(*ROWS_PER_EVENT)
        u = r.random()
        if u < INSERT_SHARE or len(st.ids) < 2 * n + 8:
            rows = [self._new_row(st) for _ in range(n)]
            for row in rows:
                st.add(row)
            return EV_WRITE, rows
        picked: list[int] = []
        while len(picked) < n:
            rid = self._pick(st)
            if rid not in picked:
                picked.append(rid)
        if u < INSERT_SHARE + UPDATE_SHARE:
            pairs = []
            for rid in picked:
                before = st.rows[rid]
                after = (rid, r.randrange(N_CUST), r.randrange(100_000),
                         f"u{r.getrandbits(36):x}")
                st.rows[rid] = after
                pairs.append((before, after))
            return EV_UPDATE, pairs
        rows = [st.rows[rid] for rid in picked]
        for rid in picked:
            st.remove(rid)
        return EV_DELETE, rows

    def transaction(self, w: BinlogWriter) -> list[Op]:
        """Append one GTID-framed transaction to ``w``; return its ops."""
        ts = TS0
        self.gno += 1
        self.xid += 1
        gtid = f"{SID}:{self.gno}"
        ops = [Op(w.name, w.gtid(self.gno, ts), "gtid", gtid=gtid),
               Op(w.name, w.query("BEGIN", ts), "begin")]
        for _ in range(self.rng.randint(*EVENTS_PER_TRX)):
            table = self.rng.choices(TABLES, TABLE_WEIGHTS)[0]
            tid = self.table_ids[table]
            w.table_map(tid, table, ts)
            etype, rows = self._event_rows(table)
            pos = w.rows(etype, tid, rows, ts)
            kind = {EV_WRITE: "insert", EV_UPDATE: "update", EV_DELETE: "delete"}[etype]
            for i, row in enumerate(rows):
                before, after = {
                    "insert": (None, row), "delete": (row, None), "update": row,
                }[kind]
                ops.append(Op(w.name, pos, kind, i, table, before, after))
        ops.append(Op(w.name, w.xid(self.xid, ts), "commit", gtid=gtid))
        return ops


# --- series layout -------------------------------------------------------------


def file_name(i: int) -> str:
    return f"mysql-bin.{i:06d}"


def open_file(i: int, gen: Generator, ops: list[Op]) -> BinlogWriter:
    """A new series file: FDE + PREVIOUS_GTIDS, and the schema DDL in
    the first file."""
    w = BinlogWriter(file_name(i))
    w.fde()
    w.previous_gtids(gen.gno)
    if i == 1:
        for t in TABLES:
            ops.append(Op(w.name, w.query(ddl(t)), "ddl"))
    return w


def schema_snapshot_json() -> str:
    """The tracker's registry snapshot for this schema, as JSON text. It
    records each CREATE TABLE at its (file, log_pos) in the first file as
    applied, so replaying the file's own DDL over it is a no-op."""
    from dolphinbeat_spark.schema.registry import SchemaRegistry

    ops: list[Op] = []
    open_file(1, Generator(0), ops)
    reg = SchemaRegistry()
    for t, op in zip(TABLES, ops):
        reg.apply_ddl(ddl(t), default_db=DB, position=(op.log_name, op.log_pos))
    return reg.dumps()


def write_series(gen: Generator, n_ops: int, file_bytes: int,
                 out_dir: Path) -> tuple[list[Op], BinlogWriter]:
    """Write an archived series as a server leaves it: whole files of
    about ``file_bytes`` each closed by a rotate, then the partial active
    file. Returns the expected ops and the writer of the active file
    (still open, so a tail generator can keep appending to it)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    ops: list[Op] = []
    i = 1
    w = open_file(i, gen, ops)
    while len(ops) < n_ops:
        if w.pos >= file_bytes:
            nxt = file_name(i + 1)
            ops.append(Op(w.name, w.rotate(nxt), "rotate"))
            (out_dir / w.name).write_bytes(bytes(w.buf))
            i += 1
            w = open_file(i, gen, ops)
        ops += gen.transaction(w)
    (out_dir / w.name).write_bytes(bytes(w.buf))
    return ops, w


def segments(gen: Generator, w: BinlogWriter, n_segments: int,
             trx_per_segment: int) -> list[tuple[bytes, list[Op]]]:
    """Transaction groups appended to the active file after the series,
    each as (bytes to append, its ops)."""
    out = []
    for _ in range(n_segments):
        start = w.pos
        ops: list[Op] = []
        for _ in range(trx_per_segment):
            ops += gen.transaction(w)
        out.append((bytes(w.buf[start:]), ops))
    return out
