"""Independent output checker: compares what each sink holds with the
generator's model and charges at most one failure to each expected op.

A discrepancy is charged to an op in one of two ways:

- *missing*: the op is absent from a sink that should hold it;
- *wrong*: a sink holds it with other values, twice, out of order, or
  out of seq, or holds an op it should not (the excluded table). A
  wrong snapshot or view row is charged to the ops that touched its
  key or group.

An op with either charge counts as failed. A run is ``correct`` when
nothing is wrong: every discrepancy is an op that never arrived.
Output that matches no expected op at all, and every gap in a sink's
seq numbers, is counted in ``spurious`` and makes the run incorrect.
"""

from __future__ import annotations

import struct
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from cdcbench.gen import COLUMNS, EXCLUDED, HOT, Op, row_strings


@dataclass
class Verdict:
    missing: set = field(default_factory=set)
    wrong: set = field(default_factory=set)
    spurious: int = 0

    def update(self, other: "Verdict") -> None:
        self.missing |= other.missing
        self.wrong |= other.wrong
        self.spurious += other.spurious

    @property
    def failed(self) -> set:
        return self.missing | self.wrong

    @property
    def correct(self) -> bool:
        return not self.wrong and not self.spurious


def _lis_members(seq: list[int]) -> set[int]:
    """Values on one longest strictly increasing subsequence of ``seq``:
    the ops that kept their order. The rest are the fewest ops whose
    moves explain the observed order."""
    import bisect

    tails: list[int] = []
    tail_at: list[int] = []
    prev = [-1] * len(seq)
    for i, v in enumerate(seq):
        j = bisect.bisect_left(tails, v)
        if j == len(tails):
            tails.append(v)
            tail_at.append(i)
        else:
            tails[j] = v
            tail_at[j] = i
        prev[i] = tail_at[j - 1] if j else -1
    out = set()
    i = tail_at[-1] if tail_at else -1
    while i >= 0:
        out.add(seq[i])
        i = prev[i]
    return out


def match_stream(ops: list[Op], expected: set[int], actual: list[tuple], key_of, sig_of) -> Verdict:
    """Match a sink's output, in the sink's own order, to expected ops.

    ``actual`` items are (key, signature, flagged): ``flagged`` marks an
    item whose seq repeats an earlier one. Ops outside ``expected`` must
    not appear at all."""
    index: dict = defaultdict(list)
    for i, op in enumerate(ops):
        index[key_of(op)].append(i)
    v = Verdict()
    used: set[int] = set()
    order: list[int] = []
    for key, sig, flagged in actual:
        cands = index.get(key)
        if not cands:
            v.spurious += 1
            continue
        same = [i for i in cands if sig_of(ops[i]) == sig]
        free = [i for i in same if i not in used] or [i for i in cands if i not in used]
        if not free or (not [i for i in same if i not in used] and same):
            v.wrong.add((same or cands)[0])  # delivered twice
            continue
        after = [i for i in free if not order or i > order[-1]]
        pick = after[0] if after else free[0]
        used.add(pick)
        order.append(pick)
        if flagged or pick not in expected or sig_of(ops[pick]) != sig:
            v.wrong.add(pick)
    v.wrong |= set(order) - _lis_members(order)
    v.missing = {i for i in expected if i not in used}
    return v


def seq_gaps(seqs: list[int]) -> int:
    """Numbers missing from 1..max(seqs). Only delivered output is
    stamped, so an op the source never delivered leaves no gap: every
    gap is output that was stamped and then lost, and is wrong."""
    return max(seqs, default=0) - len(set(seqs))




def _as_dict(m) -> dict | None:
    if m is None:
        return None
    return dict(m) if not isinstance(m, dict) else m


def ordered_sig(op: Op) -> tuple:
    if op.table is not None:
        return (op.table, row_strings(op.before), row_strings(op.after))
    return (op.gtid,) if op.op_type in ("gtid", "commit") else ()


def read_ordered(out_dir: Path) -> list[dict]:
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for part in sorted(out_dir.glob("batch=*/*.parquet")):
        rows += pq.read_table(part, columns=[
            "seq", "log_name", "log_pos", "op_type", "row_index", "table", "gtid",
            "before", "after",
        ]).to_pylist()
    return rows


def check_ordered(ops: list[Op], rows: list[dict]) -> Verdict:
    """Ordered sink: seq runs 1..n in total binlog order, every routed op
    once with its values, and no op of the excluded table."""
    expected = {i for i, op in enumerate(ops) if op.table != EXCLUDED}
    rows = sorted(rows, key=lambda r: r["seq"])
    actual = []
    seen: set = set()
    for r in rows:
        key = (r["log_name"], r["log_pos"], r["op_type"], r["row_index"] or 0)
        if r["table"] is not None:
            sig = (r["table"], _as_dict(r["before"]), _as_dict(r["after"]))
        else:
            sig = (r["gtid"],) if r["op_type"] in ("gtid", "commit") else ()
        actual.append((key, sig, r["seq"] in seen))
        seen.add(r["seq"])
    v = match_stream(ops, expected, actual, lambda op: op.key, ordered_sig)
    v.spurious += seq_gaps([r["seq"] for r in rows])
    return v


class FileProducer:
    """``produce(seq, value)`` for ProtobufKafkaSink that appends
    length-framed records to one file, flushed per message."""

    def __init__(self, path: Path) -> None:
        self._f = open(path, "ab")

    def __call__(self, seq: int, value: bytes) -> None:
        self._f.write(struct.pack("<qI", seq, len(value)) + value)
        self._f.flush()

    def close(self) -> None:
        self._f.close()


def read_produced(path: Path) -> list[tuple[int, bytes]]:
    data = path.read_bytes() if path.exists() else b""
    out, pos = [], 0
    while pos < len(data):
        seq, n = struct.unpack_from("<qI", data, pos)
        pos += 12
        out.append((seq, data[pos:pos + n]))
        pos += n
    return out


def _pb_sig(op: dict) -> tuple:
    table = op.get("table")
    if table is None:
        return (op.get("gtid"),) if op["op_type"] == "gtid" else ()
    names = [c["name"] for c in table["columns"]]
    row = (op.get("rows") or [{}])[0]

    def image(cols):
        return {n: c["value"] for n, c in zip(names, cols)} if cols else None

    return (table["name"], image(row.get("before")), image(row.get("after")))


def pb_sig(op: Op) -> tuple:
    """Like ``ordered_sig``, but an Operation carries its gtid on the
    gtid op only (commit ops carry progress instead)."""
    if op.op_type == "commit":
        return ()
    return ordered_sig(op)


def check_protobuf(ops: list[Op], records: list[tuple[int, bytes]]) -> Verdict:
    """Protobuf sink: decode with the repo's wire_protocol decoder; message
    seqs run 1..m with no gap or duplicate; ops match by (log_pos, type)
    and values in stream order (Operations carry no file name)."""
    from dolphinbeat_spark.sinks import wire_protocol as wp

    expected = {i for i, op in enumerate(ops) if op.table != EXCLUDED}
    actual = []
    seqs: list[int] = []
    seen: set[int] = set()
    frags: list[bytes] = []
    flagged = False
    for seq, value in records:
        msg = wp.decode_message(value)
        flagged = flagged or msg["seq"] in seen or seq != msg["seq"]
        seqs.append(msg["seq"])
        seen.add(msg["seq"])
        frags.append(msg["payload"])
        if msg["more_fragment"]:
            continue
        for op in wp.decode_payload_ops(b"".join(frags), msg["compression"]):
            actual.append(((op["log_pos"], op["op_type"]), _pb_sig(op), flagged))
        frags, flagged = [], False
    v = match_stream(ops, expected, actual, lambda op: (op.log_pos, op.op_type), pb_sig)
    v.spurious += seq_gaps(seqs)
    return v


def _charge_keys(ops: list[Op], keys: set, v: Verdict) -> None:
    hit = set()
    for i, op in enumerate(ops):
        if op.table == HOT and op.op_type in ("insert", "update", "delete"):
            rid = (op.after or op.before)[0]
            if rid in keys:
                v.wrong.add(i)
                hit.add(rid)
    v.spurious += len(keys - hit)


def check_state(ops: list[Op], start_state: dict, delivered: set[int],
                snapshot: list[dict], view: list[dict]) -> Verdict:
    """Snapshot and view. The snapshot must equal the start state with
    every *delivered* hot-table op replayed (ops that never arrived are
    charged as missing elsewhere); the view must equal COUNT/SUM(amount)
    by cust over the snapshot. Mismatches are charged to the ops that
    touched the key or group."""
    model = dict(start_state)
    for i, op in enumerate(ops):
        if i not in delivered or op.table != HOT:
            continue
        if op.op_type == "delete":
            model.pop(op.before[0], None)
        elif op.op_type in ("insert", "update"):
            if op.before is not None and op.before[0] != op.after[0]:
                model.pop(op.before[0], None)
            model[op.after[0]] = op.after
    v = Verdict()
    got: dict = {}
    bad: set = set()
    for r in snapshot:
        rid = int(r["id"])
        row = tuple(str(r[c]) for c in COLUMNS[1:])
        if rid in got:
            bad.add(rid)
        got[rid] = row
    for rid in got.keys() | model.keys():
        want = model.get(rid)
        if want is None or got.get(rid) != tuple(str(x) for x in want[1:]):
            bad.add(rid)
    _charge_keys(ops, bad, v)

    agg: dict = defaultdict(lambda: [0, 0])
    for row in got.values():
        a = agg[row[0]]
        a[0] += 1
        a[1] += int(row[1])
    seen: dict = {}
    bad_groups = set()
    for r in view:
        g = str(r["cust"])
        seen[g] = (int(r["n_rows"]), float(r["sum_amount"] or 0))
    for g in seen.keys() | agg.keys():
        want = agg.get(g)
        if want is None or seen.get(g) != (want[0], float(want[1])):
            bad_groups.add(g)
    hit = set()
    for i, op in enumerate(ops):
        if op.table != HOT:
            continue
        groups = {str(r[1]) for r in (op.before, op.after) if r is not None}
        if groups & bad_groups:
            v.wrong.add(i)
            hit |= groups & bad_groups
    v.spurious += len(bad_groups - hit)
    return v
