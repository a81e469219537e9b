"""The traced run: spans around the program's public layer functions, and
counters from observations and the Spark event log.

Spark is lazy, so a layer's cost only shows when an action runs.  The
replay therefore ends each layer with a ``noop`` write of the frame built
so far: the write of layer ``k`` recomputes layers ``1..k``, and layer
``k``'s self time is its write's duration minus layer ``k-1``'s.  Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        """Record a span around the ``with`` body; the enclosing open span
        is its parent."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(name, start, time.time(), parent, self.run_id))

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def children(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def _noop(df, observation=None, **aggs):
    """Run ``df`` to completion without writing; optional observed counts."""
    if observation is not None:
        df = df.observe(observation, *[a.alias(k) for k, a in aggs.items()])
    df.write.format("noop").mode("overwrite").save()
    return observation.get if observation is not None else {}


#: Layers of ``run_pipeline`` in order, each ending at a noop boundary.
BATCH_LAYERS = ("elb", "parse", "geo", "features", "sessions")


def replay_layers(spark, tracer: Tracer, input_dir: str, geo_cache: str,
                  through: str = "sessions", sinks: dict[str, str] | None = None) -> dict:
    """Replay ``run_pipeline``'s steps through their public functions under
    spans, up to layer ``through``; with ``sinks``, also persist the final
    frame and run each ``reports.write_*``.  Returns the layer counters."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from advanced_elb_logs_etl_spark.operators.features import add_features
    from advanced_elb_logs_etl_spark.operators.geo import enrich_with_geolocation, load_geo_cache
    from advanced_elb_logs_etl_spark.operators.parse import parse_alb_lines
    from advanced_elb_logs_etl_spark.operators.reports import (
        write_bot_traffic_reports,
        write_cleaned_logs,
        write_error_report,
        write_hourly_aggregation,
    )
    from advanced_elb_logs_etl_spark.operators.sessions import add_session_features
    from advanced_elb_logs_etl_spark.plans.pipeline import autosize_for_inputs
    from advanced_elb_logs_etl_spark.session import apply_runtime_confs
    from advanced_elb_logs_etl_spark.sources.elb import read_alb_lines

    c: dict = {}
    count = F.count(F.lit(1))
    stop = BATCH_LAYERS.index(through)
    with tracer.span("pipeline"):
        with tracer.span("autosize"):
            autosize_for_inputs(spark, [input_dir])
            apply_runtime_confs(spark)
        c["pipeline.shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
        with tracer.span("elb"):
            raw = read_alb_lines(spark, [input_dir])
            c["elb.lines"] = _noop(raw, Observation("elb"), rows=count)["rows"]
        with tracer.span("parse"):
            parsed = parse_alb_lines(raw)
            c["parse.rows_out"] = _noop(parsed, Observation("parse"), rows=count)["rows"]
        frame = parsed
        if stop >= 2:
            with tracer.span("geo"):
                frame = enrich_with_geolocation(spark, parsed, geo_cache)
                got = _noop(frame, Observation("geo"), rows=count,
                            hits=F.count(F.col("countryCode")))
                c["geo.hit_ratio"] = got["hits"] / max(1, got["rows"])
        if stop >= 3:
            with tracer.span("features"):
                frame = add_features(frame)
                _noop(frame)
        if stop >= 4:
            with tracer.span("sessions"):
                frame = add_session_features(frame)
                c["sessions.sessions_out"] = _noop(
                    frame, Observation("sessions"),
                    sessions=F.count_if(F.col("new_session")))["sessions"]
        if sinks is not None:
            with tracer.span("materialize"):
                final = frame.persist(StorageLevel.MEMORY_AND_DISK)
                _noop(final)
            with tracer.span("reports.cleaned_logs"):
                write_cleaned_logs(final, sinks["cleaned_logs"])
            with tracer.span("reports.hourly_agg"):
                write_hourly_aggregation(final, sinks["hourly_agg"])
            with tracer.span("reports.error_report"):
                write_error_report(final, sinks["error_report"])
            with tracer.span("reports.bot"):
                write_bot_traffic_reports(final, sinks["bot_details"], sinks["bot_summary"])
            final.unpersist()
    c["parse.ok_ratio"] = c["parse.rows_out"] / max(1, c["elb.lines"])
    c["geo.cache_rows"] = load_geo_cache(spark, geo_cache).count()
    return c


def layer_metrics(tracer: Tracer, stats: dict, plain_s: float) -> dict[str, float]:
    """Per-layer self times and the trace's own cost.  A layer's self time
    is its noop write minus the previous layer's (both recompute the same
    prefix), so a layer cheaper than the run-to-run noise can read slightly
    negative; ``plain_s`` is an untraced pass over the same input."""
    out: dict[str, float] = {"elb.files": stats["files"], "elb.gz_bytes": stats["gz_bytes"]}
    prev = 0.0
    for name in BATCH_LAYERS:
        spans = [s for s in tracer.spans if s.name == name]
        if spans:
            out["elb.scan_s" if name == "elb" else f"{name}.self_s"] = spans[0].dur - prev
            prev = spans[0].dur
    root = tracer.get("pipeline")
    out.update({
        "trace.plain_s": plain_s,
        "trace.traced_s": root.dur,
        "trace.overhead_s": root.dur - plain_s,
        "trace.unattributed_s": root.dur - sum(s.dur for s in tracer.children("pipeline")),
    })
    return out


def read_event_log(event_dir: str) -> list[dict]:
    """Every ``SparkListenerTaskEnd`` event of the app's log, reduced to
    finish time (epoch s) and the task metrics the benchmark reports."""
    tasks = []
    for path in glob.glob(os.path.join(event_dir, "**", "*events*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "finish": ev["Task Info"]["Finish Time"] / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)),
                })
    return tasks


def task_totals(tasks: list[dict], start: float, end: float) -> dict[str, float]:
    """Sums over the tasks that finished inside ``[start, end]``."""
    sel = [t for t in tasks if start <= t["finish"] <= end]
    return {
        "tasks": len(sel),
        "gc_s": sum(t["gc_s"] for t in sel),
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in sel),
        "spill_bytes": sum(t["spill_bytes"] for t in sel),
    }
