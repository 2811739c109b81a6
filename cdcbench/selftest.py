"""Self-test of the output checker: one dropped, one duplicated and one
reordered op at each sink must each be charged, an op lost after its
seq was stamped must make the run incorrect, and clean output must
pass. Needs no Spark; sink outputs are built the way each sink writes
them (ordered rows with seq, protobuf messages from the repo's encoder,
snapshot and view rows).

    python3 cdcbench/selftest.py
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

sys.path[0] = str(Path(__file__).resolve().parent.parent)

from cdcbench import check, gen  # noqa: E402

OPS_PER_PAYLOAD = 16


def model(seed: int = 3):
    g = gen.Generator(seed, seeded_rows=50)
    start = dict(g.state[gen.HOT].rows)
    w = gen.BinlogWriter(gen.file_name(1))
    w.fde()
    ops = []
    for _ in range(60):
        ops += g.transaction(w)
    return ops, start


def ordered_rows(ops, order):
    rows = []
    for seq, i in enumerate(order, start=1):
        op = ops[i]
        rows.append({
            "seq": seq, "log_name": op.log_name, "log_pos": op.log_pos,
            "op_type": op.op_type, "row_index": op.row_index, "table": op.table,
            "gtid": op.gtid,
            "before": None if op.before is None else list(gen.row_strings(op.before).items()),
            "after": None if op.after is None else list(gen.row_strings(op.after).items()),
        })
    return rows


def protobuf_records(ops, order):
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sinks import wire_protocol as wp

    reg = SchemaRegistry.loads(gen.schema_snapshot_json())
    chunks = []
    for i in order:
        op = ops[i]
        row = {"op_type": op.op_type, "server_id": gen.SERVER_ID, "timestamp": gen.TS0,
               "log_pos": op.log_pos, "gtid": op.gtid, "db": gen.DB, "table": op.table}
        for image in ("before", "after"):
            vals = gen.row_strings(getattr(op, image))
            row[image] = vals
            row[f"{image}_null"] = vals and {c: False for c in vals}
        td = reg.get(gen.DB, op.table) if op.table else None
        chunks.append(wp.payload_chunk(wp.encode_operation(row, td)))
    return wp.build_messages(chunks, 0, 1, ops_per_payload=OPS_PER_PAYLOAD)


def state_rows(ops, start, order):
    state = dict(start)
    view = defaultdict(lambda: [0, 0])
    for r in state.values():
        view[r[1]][0] += 1
        view[r[1]][1] += r[2]
    for i in order:
        op = ops[i]
        if op.table != gen.HOT:
            continue
        for row, sign in ((op.before, -1), (op.after, 1)):
            if row is not None:
                view[row[1]][0] += sign
                view[row[1]][1] += sign * row[2]
        if op.before is not None:
            state.pop(op.before[0], None)
        if op.after is not None:
            state[op.after[0]] = op.after
    snap = [dict(zip(gen.COLUMNS, map(str, r))) for r in state.values()]
    vrows = [{"cust": str(c), "n_rows": n, "sum_amount": float(s)}
             for c, (n, s) in view.items() if n]
    return snap, vrows


def pick(ops, start):
    """A hot-table insert whose key no later op touches, and the next
    routed op after it."""
    touched = defaultdict(int)
    for op in ops:
        if op.table == gen.HOT:
            touched[(op.after or op.before)[0]] += 1
    for i, op in enumerate(ops):
        if op.table == gen.HOT and op.op_type == "insert" and touched[op.after[0]] == 1:
            j = next(j for j in range(i + 1, len(ops)) if ops[j].table != gen.EXCLUDED)
            return i, j
    raise AssertionError("no lone insert in the model")


def main() -> int:
    ops, start = model()
    routed = [i for i, op in enumerate(ops) if op.table != gen.EXCLUDED]
    everything = list(range(len(ops)))
    i, j = pick(ops, start)
    mutations = {
        "clean": list(routed),
        "dropped": [k for k in routed if k != i],
        "duplicated": [k for n in routed for k in ((n, n) if n == i else (n,))],
        "reordered": [j if k == i else i if k == j else k for k in routed],
    }
    failures = 0

    def report(sink, name, v, want_failed):
        nonlocal failures
        charged = {i, j} if name == "reordered" else {i}
        ok = (len(v.failed) == 1 and v.failed <= charged) if want_failed else not v.failed
        ok = ok and (v.correct == (name in ("clean", "dropped")))
        failures += not ok
        print(f"{sink:9s} {name:10s} missing={sorted(v.missing)} wrong={sorted(v.wrong)} "
              f"spurious={v.spurious} correct={v.correct} {'ok' if ok else 'FAIL'}")

    for name, order in mutations.items():
        report("ordered", name, check.check_ordered(ops, ordered_rows(ops, order)),
               name != "clean")
        report("protobuf", name, check.check_protobuf(ops, protobuf_records(ops, order)),
               name != "clean")

    # stamped, then lost: the row (or the message holding it) is gone and
    # its seq leaves a gap, so the op fails and the run is incorrect
    rows = [r for r in ordered_rows(ops, routed) if r["seq"] != routed.index(i) + 1]
    records = protobuf_records(ops, routed)
    del records[routed.index(i) // OPS_PER_PAYLOAD]
    for sink, v in (("ordered", check.check_ordered(ops, rows)),
                    ("protobuf", check.check_protobuf(ops, records))):
        ok = i in v.missing and v.spurious == 1 and not v.correct
        failures += not ok
        print(f"{sink:9s} {'lost':10s} missing={len(v.missing)} spurious={v.spurious} "
              f"correct={v.correct} {'ok' if ok else 'FAIL'}")

    # the state sink: a dropped op leaves its key absent, a duplicated op
    # counts twice in the view, a reordered pair on one key leaves the
    # wrong image
    full = set(everything)
    for name in mutations:
        if name == "clean":
            snap, view = state_rows(ops, start, everything)
        elif name == "dropped":
            snap, view = state_rows(ops, start, [k for k in everything if k != i])
        elif name == "duplicated":
            snap, _ = state_rows(ops, start, everything)
            _, view = state_rows(ops, start, everything + [i])
        else:
            a, b = next((a, b) for a in range(len(ops)) for b in range(a + 1, len(ops))
                        if ops[a].table == ops[b].table == gen.HOT
                        and ops[a].op_type == "insert" and ops[b].op_type == "update"
                        and ops[a].after[0] == ops[b].before[0])
            snap, view = state_rows(ops, start, [b if k == a else a if k == b else k
                                                 for k in everything])
        v = check.check_state(ops, start, full, snap, view)
        caught = (not v.failed) if name == "clean" else (bool(v.failed) and not v.correct)
        failures += not caught
        print(f"{'state':9s} {name:10s} failed={sorted(v.failed)} spurious={v.spurious} "
              f"{'ok' if caught else 'FAIL'}")
    print("selftest:", "FAIL" if failures else "ok")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
