"""Per-layer tracing from outside the program, for ``--trace 1`` runs.

Spans are recorded around the public callables of each layer (the sinks'
foreachBatch callables, ``apply_batch``, ``merge_agg_batch``, the
protobuf ``produce``), kept in memory and reduced when the run ends.
Source-side counts come from ``counting_provider``; Spark-side numbers
from the event log and each query's ``recentProgress``.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    layer: str
    t0: float
    t1: float
    info: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def timed(self, layer: str, fn, info_of=None):
        """``fn`` wrapped so each call records a span."""

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                info = info_of(*args, **kwargs) if info_of else {}
                self.spans.append(Span(layer, t0, time.time(), info))

        return wrapper

    def total(self, layer: str, w0: float, w1: float) -> float:
        return sum(s.t1 - s.t0 for s in self.window(layer, w0, w1))

    def window(self, layer: str, w0: float, w1: float) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and w0 <= s.t0 < w1]


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the composition calls. Must run before
    the queries are built (build_pipeline and snapshot_and_agg_stream bind
    their callees when called)."""
    from dolphinbeat_spark.sinks import apply_changes, incremental_agg
    from dolphinbeat_spark.streaming import pipeline

    real_ordered = pipeline.OrderedFileSink

    def ordered_sink(out_dir, producer_id=1):
        def written(batch_df, batch_id):
            out = Path(out_dir) / f"batch={batch_id}"
            return {"rows": parquet_rows(out), "bytes": dir_bytes(out)}

        return tracer.timed("sinks.ordered", real_ordered(out_dir, producer_id), written)

    pipeline.OrderedFileSink = ordered_sink

    def snapshot_rows(spark, batch, snapshot_path, *a, **k):
        return {"rows": parquet_rows(snapshot_path)}

    apply_changes.apply_batch = tracer.timed(
        "sinks.apply_changes", apply_changes.apply_batch, snapshot_rows)
    incremental_agg.merge_agg_batch = tracer.timed(
        "sinks.incremental_agg", incremental_agg.merge_agg_batch)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in Path(path).rglob("*.parquet"))


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) if path.exists() else 0


def read_counts(counts_dir: Path, w0: float, w1: float) -> list[dict]:
    out = []
    for p in counts_dir.glob("*.jsonl"):
        for line in p.read_text().splitlines():
            rec = json.loads(line)
            if w0 <= rec["t0"] < w1:
                out.append(rec)
    return out


def event_log_totals(log_dir: Path, w0: float, w1: float) -> dict:
    """Task and job totals from Spark's (uncompressed) event log, for
    tasks launched and jobs submitted inside [w0, w1)."""
    tot = dict(task_cpu_s=0.0, task_run_s=0.0, gc_s=0.0, shuffle_write_bytes=0,
               spill_bytes=0, jobs=0, tasks=0)
    for p in (p for p in log_dir.rglob("*") if p.is_file()):
        with open(p) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if not w0 <= ev["Task Info"]["Launch Time"] / 1000 < w1:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    tot["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if w0 <= ev["Submission Time"] / 1000 < w1:
                        tot["jobs"] += 1
    return tot


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default
