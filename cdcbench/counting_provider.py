"""Counting wrapper around ``binlog_file_provider`` for traced runs.

The source resolves providers by module path on the driver and inside
every executor task, so passing ``provider=cdcbench.counting_provider:provider``
puts this wrapper in both places without touching the source. Each call
appends one JSON line to ``<cdcbench_counts_dir>/<pid>.jsonl``:

- ``latest``: one driver-side head probe (it parses the whole series);
- ``factory``: one task opening the series at its start offset (it parses
  the whole series too), with the bytes on disk at that moment;
- ``scan``: what that task then pulled from the iterator until it closed
  it — events that its shard decodes, row images of its own shard, and
  the ops it emits.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from dolphinbeat_spark.sources.binlog_file import binlog_file_provider
from dolphinbeat_spark.sources.binlog_source import shard_for_table

_ROWS = frozenset({"WriteRowsEvent", "UpdateRowsEvent", "DeleteRowsEvent"})
_CONTROL = frozenset({"RotateEvent", "GtidEvent", "QueryEvent", "XidEvent"})


def _series_bytes(path: Path) -> int:
    if path.is_dir():
        return sum(p.stat().st_size for p in path.iterdir() if p.is_file())
    return path.stat().st_size


def _shard_index() -> int:
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return -1 if ctx is None else ctx.partitionId()


class _Log:
    def __init__(self, out_dir: str) -> None:
        self.path = Path(out_dir) / f"{os.getpid()}.jsonl"

    def write(self, rec: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")


class _CountingIter:
    """Passes events through; on close/exhaustion logs what was pulled."""

    def __init__(self, it, log: _Log, shard: int, shard_count: int) -> None:
        self._it = it
        self._log = log
        self._shard = shard
        self._n = max(1, shard_count)
        self._t0 = time.time()
        self._decoded = 0
        self._own_rows = 0
        self._control = 0
        self._done = False

    def __iter__(self):
        return self

    def __next__(self):
        try:
            raw = next(self._it)
        except StopIteration:
            self.close()
            raise
        name = type(raw).__name__
        if name in _ROWS:
            if self._n == 1 or shard_for_table(raw.schema, raw.table, self._n) == self._shard:
                self._decoded += len(raw.rows)
                self._own_rows += len(raw.rows)
        elif name in _CONTROL:
            self._decoded += 1
            self._control += 1
        return raw

    def close(self) -> None:
        if self._done:
            return
        self._done = True
        emitted = self._own_rows + (self._control if self._shard <= 0 else 0)
        self._log.write({
            "k": "scan", "t0": self._t0, "dt": time.time() - self._t0,
            "shard": self._shard, "decoded": self._decoded,
            "own_rows": self._own_rows, "emitted": emitted,
        })


def provider(options: dict):
    factory, latest = binlog_file_provider(options)
    log = _Log(options["cdcbench_counts_dir"])
    path = Path(options["binlog_file_path"])
    shard_count = int(options.get("shard_count", "1"))

    def counting_factory(offset):
        t0 = time.time()
        nbytes = _series_bytes(path)
        it = factory(offset)
        log.write({"k": "factory", "t0": t0, "dt": time.time() - t0, "bytes": nbytes})
        return _CountingIter(it, log, _shard_index(), shard_count)

    def counting_latest(opts: dict) -> dict:
        t0 = time.time()
        nbytes = _series_bytes(path)
        out = latest(opts)
        log.write({"k": "latest", "t0": t0, "dt": time.time() - t0, "bytes": nbytes})
        return out

    return counting_factory, counting_latest
