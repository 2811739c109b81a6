"""Open-loop load generator for ``live_tail``: one process that appends
pre-built transaction segments to the active binlog file on a fixed
schedule, whether or not the pipeline keeps up.

    python3 -m cdcbench.tail_gen SPOOL TARGET T0 INTERVAL OUT_JSON STOP

SPOOL holds the segments as ``<u32 length><bytes>`` records; segment k is
due at ``T0 + k * INTERVAL`` (Unix time). Each segment is appended with
one write. The generator stops at the end of the spool, or before the
next write once the file STOP exists. OUT_JSON receives the actual write
time of every segment written.
"""

from __future__ import annotations

import json
import os
import struct
import sys
import time


def main(spool: str, target: str, t0: float, interval: float, out: str, stop: str) -> None:
    data = open(spool, "rb").read()
    segs, pos = [], 0
    while pos < len(data):
        (n,) = struct.unpack_from("<I", data, pos)
        segs.append(data[pos + 4:pos + 4 + n])
        pos += 4 + n
    written = []
    fd = os.open(target, os.O_WRONLY | os.O_APPEND)
    try:
        for k, seg in enumerate(segs):
            delay = t0 + k * interval - time.time()
            if delay > 0:
                time.sleep(delay)
            if os.path.exists(stop):
                break
            os.write(fd, seg)
            written.append(time.time())
    finally:
        os.close(fd)
    with open(out, "w") as f:
        json.dump(written, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]), sys.argv[5], sys.argv[6])
