"""End-to-end CDC benchmark: binlog bytes in, durable sink output out.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0

Run from the repository root. Drives the daemon's composition through its
public entry points: the ``dolphinbeat_binlog_file`` source (Arrow reader,
4 table shards) -> ``filter_tables`` -> ``build_pipeline`` (OrderedFileSink
plus the ``pipeline_metrics`` counting query), a ``ProtobufKafkaSink`` whose
``produce`` appends to a file, and ``snapshot_and_agg_stream``
(``apply_batch`` + ``merge_agg_batch``). Every sink's output is checked
against the generator's model (check.py). Workloads are described in
``WORKLOADS`` below and in cdcbench/README.md.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it starting with
``context:`` describe the host and the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".cdcbench_work"
SHARDS = 4
SETUPS = 3
#: driver heap; the session's own default (24g) exceeds small hosts
DRIVER_MEM = "2g"


# --- environment ------------------------------------------------------------------


def bootstrap() -> None:
    """Import the program from the checkout, or fail before any work."""
    if not (ROOT / "dolphinbeat_spark" / "__init__.py").is_file():
        sys.exit("cdcbench: dolphinbeat_spark/ not found; run from the repository root")
    sys.path[0] = str(ROOT)


def spark_env(work: Path, trace: bool) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and set the session knobs ``get_spark`` reads."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(SHARDS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=str(work / "local"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def context(**kv) -> None:
    print("context: " + " ".join(f"{k}={v}" for k, v in kv.items()), flush=True)


# --- shared pieces ------------------------------------------------------------------


class Ctx:
    """What one run shares: the session, its work dir, the seed, and
    the tracer when tracing."""

    def __init__(self, spark, work: Path, seed: int, seconds: int, tracer) -> None:
        from dolphinbeat_spark.streaming.metrics import PipelineMetrics

        from cdcbench import gen

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.snapshot_json = gen.schema_snapshot_json()
        self.metrics = PipelineMetrics()
        spark.streams.addListener(self.metrics)
        self.counts_dir = work / "counts"
        self.counts_dir.mkdir(exist_ok=True)


def view_spec():
    from dolphinbeat_spark.sinks.incremental_agg import AggViewSpec

    return AggViewSpec(group_cols=("cust",), sum_cols=("amount",))


def seed_state(ctx: Ctx, rows: dict, dest: Path) -> None:
    """Seed the snapshot and its view at ``dest`` through the program's own
    ``apply_batch`` and ``merge_agg_batch``, from an envelope of one insert
    per row of ``rows``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from dolphinbeat_spark.sinks.apply_changes import apply_batch
    from dolphinbeat_spark.sinks.incremental_agg import merge_agg_batch

    from cdcbench.gen import COLUMNS, DB, HOT, KEY_COLS, VALUE_COLS

    ids = sorted(rows)
    n = len(ids)
    smap = pa.map_(pa.string(), pa.string())
    bmap = pa.map_(pa.string(), pa.bool_())
    flags = [(c, False) for c in COLUMNS]
    table = pa.table({
        "op_type": pa.array(["insert"] * n),
        "log_name": pa.array(["seed"] * n),
        "log_pos": pa.array(ids, pa.int64()),
        "row_index": pa.array([0] * n, pa.int32()),
        "db": pa.array([DB] * n),
        "table": pa.array([HOT] * n),
        "before": pa.nulls(n, smap),
        "before_null": pa.nulls(n, bmap),
        "after": pa.array([list(zip(COLUMNS, map(str, rows[i]))) for i in ids], smap),
        "after_null": pa.array([flags] * n, bmap),
    })
    dest.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, dest / "seed.parquet")
    batch = ctx.spark.read.parquet(str(dest / "seed.parquet"))
    apply_batch(ctx.spark, batch, str(dest / "snapshot"), KEY_COLS, VALUE_COLS)
    merge_agg_batch(batch, str(dest / "view"), view_spec())


def copy_state(src: Path, dest: Path) -> None:
    for name in ("snapshot", "view"):
        shutil.copytree(src / name, dest / name)


def _offset_key(off: dict) -> tuple:
    return (off["file"], off["pos"])


class Composition:
    """One daemon: a fresh source per query, as the daemon builds it,
    with checkpoints and outputs under ``d``."""

    SINKS = ("ordered", "protobuf", "snapshot_agg")

    def __init__(self, ctx: Ctx, d: Path, series: Path, start: tuple[str, int],
                 available_now: bool) -> None:
        from dolphinbeat_spark.operators.filters import filter_tables
        from dolphinbeat_spark.schema.registry import SchemaRegistry
        from dolphinbeat_spark.sinks.incremental_agg import snapshot_and_agg_stream
        from dolphinbeat_spark.sinks.ordered import ProtobufKafkaSink
        from dolphinbeat_spark.sources.binlog_file import BINLOG_FILE_SOURCE_NAME
        from dolphinbeat_spark.streaming.pipeline import SinkSpec, build_pipeline

        from cdcbench.check import FileProducer
        from cdcbench.gen import DB, EXCLUDED, HOT, KEY_COLS, VALUE_COLS

        self.d = d
        self.start = start
        opts = {
            "binlog_file_path": str(series),
            "shard_count": str(SHARDS),
            "schema_snapshot_json": ctx.snapshot_json,
            "file": start[0],
            "pos": str(start[1]),
        }
        tracer = ctx.tracer
        if tracer is not None:
            opts["provider"] = "cdcbench.counting_provider:provider"
            opts["cdcbench_counts_dir"] = str(ctx.counts_dir)
        spark = ctx.spark
        exclude = [rf"^{DB}\.{EXCLUDED}$"]
        self.queries: dict = {}
        self.started: dict = {}

        def source():
            return spark.readStream.format(BINLOG_FILE_SOURCE_NAME).options(**opts).load()

        def launch(name, writer):
            if available_now:
                writer = writer.trigger(availableNow=True)
            self.started[name] = time.time()
            self.queries[name] = writer.start()

        t = time.time()
        qs = build_pipeline(
            source(),
            [SinkSpec("ordered", str(d / "ordered"), str(d / "ck" / "ordered"),
                      exclude=exclude)],
            trigger_once=available_now, metrics=ctx.metrics,
            metrics_checkpoint=str(d / "ck" / "pipeline_metrics"),
        )
        for q in qs:
            self.started[q.name] = t
            self.queries[q.name] = q

        self.producer = FileProducer(d / "protobuf.bin")
        produce = self.producer
        if tracer is not None:
            produce = tracer.timed("sinks.wire_protocol.produce", produce,
                                   lambda seq, value: {"bytes": len(value)})
        sink = ProtobufKafkaSink(str(d / "protobuf_meta"),
                                 SchemaRegistry.loads(ctx.snapshot_json), produce)
        if tracer is not None:
            sink = tracer.timed("sinks.wire_protocol", sink)
        launch("protobuf", filter_tables(source(), exclude=exclude)
               .writeStream.foreachBatch(sink)
               .option("checkpointLocation", str(d / "ck" / "protobuf"))
               .queryName("protobuf"))

        hot = filter_tables(source(), include=[rf"^{DB}\.{HOT}$"])
        launch("snapshot_agg", snapshot_and_agg_stream(
            hot, str(d / "snapshot"), str(d / "view"), str(d / "ck" / "snapshot_agg"),
            KEY_COLS, VALUE_COLS, view_spec(),
        ).queryName("snapshot_agg"))
        self.sinks = self.SINKS

    def batches(self, name: str) -> list[tuple[int, tuple, float]]:
        """(batch id, end offset, commit time) of each committed batch."""
        ck = self.d / "ck" / name
        out = []
        commits = ck / "commits"
        if not commits.exists():
            return out
        for p in commits.iterdir():
            if not p.name.isdigit():
                continue
            bid = int(p.name)
            lines = (ck / "offsets" / p.name).read_text().splitlines()
            end = json.loads(lines[-1])
            out.append((bid, _offset_key(end), p.stat().st_mtime_ns / 1e9))
        return sorted(out)

    def committed_to(self, name: str) -> tuple:
        b = self.batches(name)
        return b[-1][1] if b else ("", 0)

    def committed_at(self, name: str, t: float) -> tuple:
        """How far the sink had committed at time ``t``."""
        return max((end for _, end, ct in self.batches(name) if ct <= t), default=("", 0))

    def commit_time_of(self, pos: tuple) -> float | None:
        """When the last sink committed the batch holding ``pos``."""
        latest = 0.0
        for name in self.sinks:
            t = next((ct for _, end, ct in self.batches(name) if end >= pos), None)
            if t is None:
                return None
            latest = max(latest, t)
        return latest

    def wait(self, done, timeout: float, poll: float = 0.1) -> bool:
        """Poll ``done()`` every ``poll`` seconds until it holds or
        ``timeout`` passes; a failed query raises."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"query {q.name} failed: {q.exception()}")
            if done():
                return True
            time.sleep(poll)
        return False

    def wait_committed(self, pos: tuple, timeout: float) -> bool:
        return self.wait(lambda: all(self.committed_to(n) >= pos for n in self.sinks), timeout)

    def await_all(self) -> None:
        for q in self.queries.values():
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name} failed: {q.exception()}")

    def progress(self) -> dict[str, list[dict]]:
        out = {}
        for name, q in self.queries.items():
            ps = [json.loads(p.json) for p in q.recentProgress]
            out[name] = [p for p in ps if "addBatch" in p.get("durationMs", {})]
        return out

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        if self.producer is not None:
            self.producer.close()


def drain(ctx: Ctx, d: Path, series: Path, seed: Path | None) -> tuple[Composition, float, float]:
    """A fresh daemon drains ``series`` from its head with availableNow into
    every sink, over a copy of the seeded state at ``seed`` (or from empty
    state); returns it with its start time and last sink commit time."""
    from cdcbench.gen import file_name

    if seed is not None:
        copy_state(seed, d)
    t0 = time.time()
    comp = Composition(ctx, d, series, (file_name(1), 4), True)
    comp.await_all()
    comp.stop()
    return comp, t0, max(comp.batches(n)[-1][2] for n in comp.sinks)


def check_outputs(ctx: Ctx, comp: Composition, ops: list, start_state: dict):
    import pyarrow.parquet as pq
    from dolphinbeat_spark.sinks.incremental_agg import read_agg_view

    from cdcbench import check

    v = check.Verdict()
    delivered = set(range(len(ops)))
    vo = check.check_ordered(ops, check.read_ordered(comp.d / "ordered"))
    delivered -= vo.missing
    v.update(vo)
    v.update(check.check_protobuf(ops, check.read_produced(comp.d / "protobuf.bin")))
    snap = pq.read_table(comp.d / "snapshot").to_pylist()
    view = [r.asDict() for r in read_agg_view(ctx.spark, str(comp.d / "view"), view_spec())
            .collect()]
    v.update(check.check_state(ops, start_state, delivered, snap, view))
    return v


def set_up(ctx: Ctx, m: "Measure", make_inputs, warm_up=None):
    """Generate a workload's inputs and seed its start state, three times
    in a row; ``m.setup_s`` gets each time and the first set (under
    ``setup0``) is returned. ``warm_up(dest)``, when given, runs between
    the first generation and the first seeding and is not counted: it
    runs first in the JVM, so the discarded warm-up rather than the
    set-up pays the cold start."""
    out = None
    for k in range(SETUPS):
        dest = ctx.work / f"setup{k}"
        t = time.time()
        inputs, start_state = make_inputs(dest)
        spent = time.time() - t
        if k == 0 and warm_up is not None:
            warm_up(dest)
        t = time.time()
        seed_state(ctx, start_state, dest / "seed")
        m.setup_s.append(spent + time.time() - t)
        if k == 0:
            out = inputs, start_state
    return out


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Measure:
    """What a workload hands back: per-op latencies, goodput samples,
    the measured window, and the outputs to check."""

    def __init__(self) -> None:
        self.goodput: list[float] = []
        self.latency: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.w0 = self.w1 = 0.0
        self.units = 0
        self.comps: list[Composition] = []
        self.hot_row_ops = 0
        self.late_s_max = 0.0
        self.backlog_end = 0
        #: printed as a context line
        self.notes: dict = {}
        self.setup_s: list[float] = []
        self.ops_per_unit = 0.0
        self.series: Path | None = None
        self.sampled_cpu = 0.0
        self.peak_pss = 0.0
        self.route_s = 0.0
        self.decode_1thread = 0.0


def _hot_row_ops(ops) -> int:
    from cdcbench.gen import HOT

    return sum(1 for op in ops if op.table == HOT)


class Window:
    """CPU and peak PSS of this process tree over the measured window
    (the tail generator's subtree excluded)."""

    def __init__(self) -> None:
        from cdcbench import host

        self.host = host
        self.exclude: frozenset = frozenset()

    def begin(self) -> float:
        self.pss = self.host.PeakPss(os.getpid())
        self.pss.exclude = self.exclude
        self.pss.start()
        self.cpu0 = self.host.tree_cpu_s(os.getpid(), self.exclude)
        return time.time()

    def end(self, m: Measure) -> None:
        m.w1 = time.time()
        m.sampled_cpu = self.host.tree_cpu_s(os.getpid(), self.exclude) - self.cpu0
        m.peak_pss = self.pss.stop()


# --- workloads --------------------------------------------------------------------


def run_backfill(ctx: Ctx) -> Measure:
    """Closed loop: each iteration a fresh daemon drains the archived
    series with availableNow into all three sinks plus the counting query."""
    from cdcbench import gen

    n_ops, file_bytes, seeded = 12_000, 300_000, 5_000
    m = Measure()

    def inputs(dest: Path):
        g = gen.Generator(ctx.seed, seeded_rows=seeded)
        start_state = dict(g.state[gen.HOT].rows)
        ops, _ = gen.write_series(g, n_ops, file_bytes, dest / "series")
        return ops, start_state

    def warm_up(dest: Path) -> None:
        drain(ctx, ctx.work / "warm", dest / "series", None)

    ops, start_state = set_up(ctx, m, inputs, warm_up)
    series = ctx.work / "setup0" / "series"
    m.series = series
    m.ops_per_unit = len(ops)

    win = Window()
    m.w0 = win.begin()
    runs = []
    # at least two drains, then as many as come nearest to --seconds
    while len(runs) < 2 or sum(t1 - t0 for _, t0, t1 in runs) * (1 + 0.5 / len(runs)) < ctx.seconds:
        runs.append(drain(ctx, ctx.work / f"iter{len(runs)}", series,
                          ctx.work / "setup0" / "seed"))
    win.end(m)
    for comp, t0, t_end in runs:
        v = check_outputs(ctx, comp, ops, start_state)
        ok = len(ops) - len(v.failed)
        m.attempted += len(ops)
        m.failed += len(v.failed)
        m.correct &= v.correct
        m.goodput.append(ok / (t_end - t0))
        m.latency += [t_end - t0] * ok
        m.comps.append(comp)
    m.units = len(runs)
    m.hot_row_ops = _hot_row_ops(ops)
    return m


def run_live_tail(ctx: Ctx) -> Measure:
    """Open loop: one generator process appends transaction segments to the
    active file at a fixed rate while the daemon tails it with a
    processing-time trigger. The measured window opens once every sink
    has committed its first batch, which pays the queries' start-up, and
    spans whole commit cycles of the slowest sink; the generator stops
    when it closes."""
    from cdcbench import gen

    # the retained history lives in the active file itself: with history
    # in earlier files, every batch starting inside the active file
    # delivers nothing on this program (see README, "Known defects")
    hist_ops, seeded = 3_000, 5_000
    interval, trx_per_seg = 0.25, 2
    warm_max_s, tail_max_s = 60.0, 30.0
    n_seg = int((warm_max_s + tail_max_s + 2 * ctx.seconds) / interval)
    m = Measure()

    def inputs(dest: Path):
        g = gen.Generator(ctx.seed, seeded_rows=seeded)
        _, w = gen.write_series(g, hist_ops, 1 << 40, dest / "series")
        start_state = dict(g.state[gen.HOT].rows)
        p0 = w.pos
        segs = gen.segments(g, w, n_seg, trx_per_seg)
        with open(dest / "spool.bin", "wb") as f:
            for data, _ in segs:
                f.write(len(data).to_bytes(4, "little") + data)
        return (w.name, p0, segs), start_state

    (active, p0, segs), start_state = set_up(ctx, m, inputs)
    series = ctx.work / "setup0" / "series"
    m.series = series
    d = ctx.work / "live"
    copy_state(ctx.work / "setup0" / "seed", d)
    comp = Composition(ctx, d, series, (active, p0), False)
    t0 = time.time() + 1.0
    due = [t0 + k * interval for k in range(n_seg)]
    win = Window()
    writes, stop = d / "writes.json", d / "stop"
    gen_proc = subprocess.Popen([
        sys.executable, "-m", "cdcbench.tail_gen", str(ctx.work / "setup0" / "spool.bin"),
        str(series / active), repr(t0), repr(interval), str(writes), str(stop),
    ])
    try:
        win.exclude = frozenset({gen_proc.pid})
        if not comp.wait(lambda: all(comp.batches(n) for n in comp.sinks), warm_max_s):
            raise RuntimeError(f"live_tail: a sink committed no batch within {warm_max_s:.0f} s")
        # the sink that committed its first batch last paces the window:
        # the window opens at that commit, when the sink's next batch
        # starts, and closes at the commit of the same sink nearest to
        # --seconds later, so it spans whole commit cycles of that sink
        pace = max(comp.sinks, key=lambda n: comp.batches(n)[0][2])
        n_warm = next(k for k, t in enumerate(due) if t > comp.batches(pace)[0][2])
        time.sleep(max(0.0, due[n_warm] - time.time()))
        m.w0 = win.begin()
        target = due[n_warm] + ctx.seconds

        def closing() -> bool:
            # close at the first commit after which the next one, at the
            # pace of the last cycle, would land further from the target
            ends = [ct for _, _, ct in comp.batches(pace)]
            return ends[-1] > due[n_warm] and ends[-1] + (ends[-1] - ends[-2]) / 2 >= target

        if not comp.wait(closing, ctx.seconds + tail_max_s, poll=0.02):
            raise RuntimeError(f"live_tail: {pace} stopped committing")
        stop.touch()
        t_close = comp.batches(pace)[-1][2]
        measured = range(n_warm, next(k for k, t in enumerate(due) if t >= t_close))
        last_pos = (active, segs[measured[-1]][1][-1].log_pos)
        if not comp.wait_committed(last_pos, timeout=90):
            raise RuntimeError("live_tail: sinks did not commit the window within 90 s")
        win.end(m)
        if gen_proc.wait(timeout=30) != 0:
            raise RuntimeError("live_tail: generator failed")
        written = json.loads(writes.read_text())
        end_pos = (active, p0 + sum(len(data) for data, _ in segs[:len(written)]))
        if not comp.wait_committed(end_pos, timeout=90):
            raise RuntimeError("live_tail: sinks did not catch up within 90 s")
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
    comp.stop()
    m.late_s_max = max(w - t for w, t in zip(written, due))
    ops = [op for _, seg_ops in segs[:len(written)] for op in seg_ops]
    v = check_outputs(ctx, comp, ops, start_state)
    m.correct = v.correct
    failed = v.failed
    # ops due but not yet committed by every sink when the window opens
    # and when it closes: if the pipeline keeps up, the two stay alike
    start_pos = min(comp.committed_at(n, due[n_warm]) for n in comp.sinks)
    backlog_pos = min(comp.committed_at(n, t_close) for n in comp.sinks)
    i = sum(len(o) for _, o in segs[:n_warm])
    ok_total, first_due, last_commit = 0, due[n_warm], 0.0
    for k in measured:
        seg_ops = segs[k][1]
        ok = sum(1 for j in range(i, i + len(seg_ops)) if j not in failed)
        m.attempted += len(seg_ops)
        m.failed += len(seg_ops) - ok
        tc = comp.commit_time_of((active, seg_ops[-1].log_pos))
        m.latency += [tc - due[k]] * ok
        last_commit = max(last_commit, tc)
        ok_total += ok
        if seg_ops[-1].log_pos > backlog_pos[1]:
            m.backlog_end += len(seg_ops)
        i += len(seg_ops)
    m.goodput.append(ok_total / (last_commit - first_due))
    m.notes = {
        "pace": pace,
        "window_s": round(t_close - first_due, 3),
        "window_cycles": sum(1 for _, _, ct in comp.batches(pace) if first_due < ct <= t_close),
        "backlog_start_events": sum(len(o) for _, o in segs[:n_warm]
                                    if o[-1].log_pos > start_pos[1]),
        "backlog_end_events": m.backlog_end,
        "late_s_max": round(m.late_s_max, 3),
    }
    m.comps.append(comp)
    m.units = 1
    m.ops_per_unit = sum(len(segs[k][1]) for k in measured)
    m.hot_row_ops = _hot_row_ops(op for k in measured for op in segs[k][1])
    return m


WORKLOADS = {
    "backfill": run_backfill,
    "live_tail": run_live_tail,
}


# --- metrics ------------------------------------------------------------------------


def end_to_end(m: Measure) -> dict:
    ok = m.attempted - m.failed
    return {
        "events_per_s": (statistics.median(m.goodput), "1/s"),
        "latency_p50_s": (percentile(m.latency, 0.50), "s"),
        "latency_p99_s": (percentile(m.latency, 0.99), "s"),
        "cpu_s_per_mevent": (m.sampled_cpu / (ok / 1e6), "s"),
        "peak_rss_mb": (m.peak_pss, "MB"),
        "setup_s": (statistics.median(m.setup_s), "s"),
    }


def _range_bytes(series: Path, a: tuple, b: tuple) -> int:
    """Bytes of the series between offsets a < b."""
    if a[0] == b[0]:
        return max(0, b[1] - a[1])
    total = 0
    for p in sorted(series.iterdir()):
        size = p.stat().st_size
        if p.name == a[0]:
            total += size - a[1]
        elif a[0] < p.name < b[0]:
            total += size
        elif p.name == b[0]:
            total += b[1]
    return total


def _json_field(x):
    """Progress JSON renders source offsets parsed when it can."""
    return json.loads(x) if isinstance(x, str) else x


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def route_seconds(ctx: Ctx, m: Measure) -> float:
    """``filter_tables`` cost: counting the three routed frames minus
    counting the unrouted frame, over a cached decode of the workload's
    input, scaled to one measured unit."""
    from dolphinbeat_spark.operators.filters import filter_tables
    from dolphinbeat_spark.sources.binlog_file import read_binlog_files

    from cdcbench.gen import DB, EXCLUDED, HOT
    from cdcbench.layers import median

    env = read_binlog_files(ctx.spark, str(m.series), ctx.snapshot_json).cache()
    n_in = env.count()

    def cost(df) -> float:
        times = []
        for _ in range(3):
            t = time.time()
            df.count()
            times.append(time.time() - t)
        return median(times)

    base = cost(env)
    exclude = cost(filter_tables(env, exclude=[rf"^{DB}\.{EXCLUDED}$"])) - base
    include = cost(filter_tables(env, include=[rf"^{DB}\.{HOT}$"])) - base
    env.unpersist()
    # the ordered and protobuf sinks exclude, the snapshot sink includes
    routed = 2 * exclude + include
    return max(0.0, routed) * m.ops_per_unit / n_in


def decode_ops_per_s_1thread(ctx: Ctx, series: Path) -> float:
    """In-process parse + decode of the workload's input on one thread."""
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.sources.binlog_file import parse_binlog_events
    from dolphinbeat_spark.sources.binlog_source import (
        DecodeContext,
        adapt_replication_event,
        decode_event,
    )

    t = time.perf_counter()
    n = 0
    reg = SchemaRegistry.loads(ctx.snapshot_json)
    for p in sorted(series.iterdir()):
        dctx = DecodeContext(registry=reg, log_name=p.name)
        for raw in parse_binlog_events(p.read_bytes()):
            ev = adapt_replication_event(raw)
            if ev is not None:
                n += len(decode_event(ev, dctx))
    return n / (time.perf_counter() - t)


def per_layer(ctx: Ctx, m: Measure) -> dict:
    from cdcbench import layers

    w0, w1, n = m.w0, m.w1, max(1, m.units)
    tr = ctx.tracer
    med = layers.median
    ops = max(1, m.attempted)

    counts = layers.read_counts(ctx.counts_dir, w0, w1)
    parses = [c for c in counts if c["k"] in ("factory", "latest")]
    scans = [c for c in counts if c["k"] == "scan"]
    shard_rows = [0] * SHARDS
    for s in scans:
        if s["shard"] >= 0:
            shard_rows[s["shard"]] += s["own_rows"]

    progress = []
    range_bytes = 0
    query_start = []
    intervals = []
    counting_ms = 0.0
    source_queries = 0
    for comp in m.comps:
        for name, ps in comp.progress().items():
            source_queries += 1
            if ps:
                query_start.append(_iso(ps[0]["timestamp"]) - comp.started[name])
            inside = [p for p in ps if w0 <= _iso(p["timestamp"]) < w1]
            progress += inside
            ts = [_iso(p["timestamp"]) for p in inside]
            intervals += [b - a for a, b in zip(ts, ts[1:])]
            if name == "pipeline_metrics":
                counting_ms += sum(p["batchDuration"] for p in inside)
            for p in inside:
                src = p["sources"][0]
                a = _json_field(src.get("startOffset"))
                a = _offset_key(a) if a else comp.start
                range_bytes += _range_bytes(m.series, a, _offset_key(_json_field(src["endOffset"])))

    def dur(key):
        return med(p["durationMs"].get(key, 0) for p in progress)

    ordered = tr.window("sinks.ordered", w0, w1)
    ordered_rows = sum(s.info["rows"] for s in ordered)
    ordered_bytes = sum(s.info["bytes"] for s in ordered)
    pb_calls = tr.total("sinks.wire_protocol", w0, w1)
    produced = tr.window("sinks.wire_protocol.produce", w0, w1)
    produce_s = sum(s.t1 - s.t0 for s in produced)
    applies = tr.window("sinks.apply_changes", w0, w1)
    rows_written = sum(s.info["rows"] for s in applies)
    snap_bytes = [layers.dir_bytes(c.d / "snapshot") for c in m.comps]
    view_bytes = [layers.dir_bytes(c.d / "view") for c in m.comps]

    ctx.spark.stop()
    spark_tot = layers.event_log_totals(ctx.work / "eventlog", w0, w1)
    events_per_s = statistics.median(m.goodput)
    metrics = {
        "sources.binlog_file.series_parses": (len(parses) / max(1, len(progress)), "count"),
        "sources.binlog_file.parse_s": (sum(c["dt"] for c in parses) / n, "s"),
        "sources.binlog_file.bytes_parsed_per_byte_in_range": (
            sum(c["bytes"] for c in parses) / max(1, range_bytes), "ratio"),
        "sources.binlog_source.latest_offset_ms": (dur("latestOffset"), "ms"),
        "sources.binlog_source.decode_s": (sum(s["dt"] for s in scans) / n, "s"),
        "sources.binlog_source.ops_decoded_per_op_delivered": (
            sum(s["decoded"] for s in scans) / ops, "ratio"),
        "sources.binlog_source.shard_skew": (
            max(shard_rows) / (sum(shard_rows) / SHARDS) if sum(shard_rows) else 0.0, "ratio"),
        "sources.binlog_source.decode_ops_per_s_1thread": (m.decode_1thread, "1/s"),
        "operators.filters.route_s": (m.route_s, "s"),
        "streaming.queries": (source_queries / len(m.comps), "count"),
        "streaming.batches": (len(progress) / n, "count"),
        "streaming.query_start_s": (med(query_start), "s"),
        "streaming.query_planning_ms": (dur("queryPlanning"), "ms"),
        "streaming.add_batch_ms": (dur("addBatch"), "ms"),
        "streaming.wal_commit_ms": (dur("walCommit"), "ms"),
        "streaming.commit_offsets_ms": (dur("commitOffsets"), "ms"),
        "streaming.trigger_interval_s_p50": (med(intervals), "s"),
        "streaming.counting_query_s": (counting_ms / 1000 / n, "s"),
        "streaming.backlog_end_events": (m.backlog_end, "count"),
        "sinks.ordered.write_s": (sum(s.t1 - s.t0 for s in ordered) / n, "s"),
        "sinks.ordered.rows": (ordered_rows / n, "count"),
        "sinks.ordered.bytes_per_event": (ordered_bytes / max(1, ordered_rows), "B"),
        "sinks.wire_protocol.encode_s": ((pb_calls - produce_s) / n, "s"),
        "sinks.wire_protocol.produce_s": (produce_s / n, "s"),
        "sinks.wire_protocol.bytes_per_event": (sum(s.info["bytes"] for s in produced) / ops, "B"),
        "sinks.wire_protocol.messages": (len(produced) / n, "count"),
        "sinks.apply_changes.merge_s": (sum(s.t1 - s.t0 for s in applies) / n, "s"),
        "sinks.apply_changes.snapshot_bytes": (med(snap_bytes), "B"),
        "sinks.apply_changes.rows_written_per_row_changed": (
            rows_written / max(1, m.hot_row_ops) if applies else 0.0, "ratio"),
        "sinks.incremental_agg.merge_s": (tr.total("sinks.incremental_agg", w0, w1) / n, "s"),
        "sinks.incremental_agg.view_bytes": (med(view_bytes), "B"),
        "spark.task_cpu_s": (spark_tot["task_cpu_s"] / n, "s"),
        "spark.task_run_s": (spark_tot["task_run_s"] / n, "s"),
        "spark.gc_s": (spark_tot["gc_s"] / n, "s"),
        "spark.shuffle_write_bytes": (spark_tot["shuffle_write_bytes"] / n, "B"),
        "spark.spill_bytes": (spark_tot["spill_bytes"] / n, "B"),
        "spark.jobs": (spark_tot["jobs"] / n, "count"),
        "spark.tasks": (spark_tot["tasks"] / n, "count"),
        "generator.late_s_max": (m.late_s_max, "s"),
        "trace.events_per_s": (events_per_s, "1/s"),
    }
    return metrics


# --- main ---------------------------------------------------------------------------


def stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it the Python workers) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bootstrap()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from cdcbench import host

    work = WORK / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        spark_env(work, bool(args.trace))
        context(workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=args.trace, nproc=os.cpu_count(),
                load1_before=host.load1(), steal_before=round(host.sample_steal(), 4))
        steal = host.StealMeter()

        from dolphinbeat_spark.session import get_spark
        from dolphinbeat_spark.sources.binlog_file import register_binlog_file_source

        from cdcbench import layers

        tracer = layers.Tracer() if args.trace else None
        if tracer is not None:
            layers.install(tracer)
        t = time.time()
        spark = get_spark("cdcbench")
        register_binlog_file_source(spark)
        context(spark_start_s=round(time.time() - t, 3))
        ctx = Ctx(spark, work, args.seed, args.seconds, tracer)
        m = WORKLOADS[args.workload](ctx)
        if m.attempted < 1:
            raise RuntimeError("no operation was measured")
        ok = m.attempted - m.failed
        if ok < 1:
            raise RuntimeError("no operation arrived correct; nothing to time")
        context(load1_after=host.load1(), steal_run=round(steal.share(), 4),
                units=m.units, goodput_samples=[round(x, 1) for x in m.goodput],
                setup_samples=[round(x, 3) for x in m.setup_s],
                attempted=m.attempted, failed=m.failed)
        if m.notes:
            # an open loop is valid only if the pipeline keeps up: the
            # backlog does not grow across the window, the generator is
            # on time
            context(**m.notes)
        last = WORK / f"last_{args.workload}.json"
        if tracer is None:
            metrics = end_to_end(m)
            last.write_text(json.dumps({"events_per_s": metrics["events_per_s"][0]}))
        else:
            m.route_s = route_seconds(ctx, m)
            m.decode_1thread = decode_ops_per_s_1thread(ctx, m.series)
            metrics = per_layer(ctx, m)
            if last.exists():
                base = json.loads(last.read_text())["events_per_s"]
                context(tracing_overhead_events_per_s=round(
                    metrics["trace.events_per_s"][0] - base, 2))
        result = {
            "correct": bool(m.correct),
            "attempted": int(m.attempted),
            "failed": int(m.failed),
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
