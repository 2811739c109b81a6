"""Reproduces the cross-file position defect of the Arrow binlog reader.

    python3 cdcbench/repro_rotate.py

Builds a 2-file series (file 1: 2,000 transactions closed by a rotate;
file 2: 100 transactions) and decodes it with ``_read_shard_arrow`` up to
the series head, three ways. On the affected code every way delivers no
op of file 2:

- a drain from (file 1, 4): the rotate op carries file 1's position, and
  the reader compares (file 2, that position) with the batch end;
- a start in the middle of file 1: the same;
- a start at (file 2, 4): the schema-only replay of file 1's query events
  carries file 1's positions, compared as positions in file 2.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path[0] = str(Path(__file__).resolve().parent.parent)

from cdcbench import gen  # noqa: E402


def main() -> int:
    from dolphinbeat_spark.sources.binlog_file import binlog_file_provider
    from dolphinbeat_spark.sources.binlog_source import (
        BinlogOffset,
        _read_shard_arrow,
        _ShardRangePartition,
    )

    with tempfile.TemporaryDirectory(dir=Path.cwd()) as tmp:
        series = Path(tmp)
        g = gen.Generator(1)
        ops: list = []
        w = gen.open_file(1, g, ops)
        for _ in range(2000):
            ops += g.transaction(w)
        ops.append(gen.Op(w.name, w.rotate(gen.file_name(2)), "rotate"))
        (series / w.name).write_bytes(bytes(w.buf))
        w = gen.open_file(2, g, ops)
        file2 = []
        for _ in range(100):
            file2 += g.transaction(w)
        (series / w.name).write_bytes(bytes(w.buf))

        opts = {
            "binlog_file_path": str(series),
            "provider": "dolphinbeat_spark.sources.binlog_file:binlog_file_provider",
            "schema_snapshot_json": gen.schema_snapshot_json(),
        }
        end = binlog_file_provider(opts)[1](opts)
        print(f"file 2 holds {len(file2)} ops; batch end {end['file']}:{end['pos']}")
        starts = {
            "drain from (file 1, 4)": (gen.file_name(1), 4),
            "start in mid file 1": (gen.file_name(1), 50_000),
            "start at (file 2, 4)": (gen.file_name(2), 4),
        }
        lost = 0
        for label, (name, pos) in starts.items():
            part = _ShardRangePartition(BinlogOffset(name, pos).to_json(), end, 0, 1)
            got = sum(b.column("log_name").to_pylist().count(gen.file_name(2))
                      for b in _read_shard_arrow(opts, part, 4096))
            lost += got < len(file2)
            print(f"{label}: {got} of file 2's {len(file2)} ops delivered")
    return 1 if lost else 0


if __name__ == "__main__":
    sys.exit(main())
