"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Builds its inputs from ``--seed`` (cached under ``.perfbench-work/``),
drives the program through its public functions, checks every output and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is a JSON report with the input statistics, ``fail_ratio``
and sample counts.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: name -> unit.  Every workload reports every metric.
END_TO_END = {
    "setup_s": "s",
    "lines_per_s": "1/s",
    "out_bytes_per_in_byte": "ratio",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
QUERY_METRICS = [f"reports.query.{k}_s" for k in
                 ("hourly_day_country", "errors_by_day", "bot_origin", "top_paths")]
#: name -> unit.  A layer a workload does not run reports 0.
PER_LAYER = {
    "session.build_s": "s",
    "elb.scan_s": "s", "elb.files": "count", "elb.gz_bytes": "bytes", "elb.lines": "count",
    "parse.self_s": "s", "parse.rows_out": "count", "parse.ok_ratio": "ratio",
    "geo.self_s": "s", "geo.cache_rows": "count", "geo.hit_ratio": "ratio",
    "features.self_s": "s",
    "sessions.self_s": "s", "sessions.sessions_out": "count",
    "sessions.shuffle_bytes": "bytes", "sessions.spill_bytes": "bytes",
    "pipeline.materialize_s": "s", "pipeline.shuffle_partitions": "count",
    "reports.cleaned_logs.write_s": "s", "reports.cleaned_logs.files": "count",
    "reports.cleaned_logs.bytes": "bytes",
    "reports.hourly_agg.write_s": "s", "reports.error_report.write_s": "s",
    "reports.bot.write_s": "s",
    **{m: "s" for m in QUERY_METRICS},
    "stream.batches": "count", "stream.trigger_s_p50": "s", "stream.add_batch_s_p50": "s",
    "stream.state_rows": "count", "stream.state_bytes": "bytes", "stream.gen_late_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "trace.plain_s": "s", "trace.traced_s": "s",
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
}
WORKLOADS = ("etl_batch", "stream_ingest")
#: Hard stop well inside the 180 s a run may take.
DEADLINE_S = 170


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    run_dir: str
    inputs: str
    sessions: object
    tracer: object
    info: dict = field(default_factory=dict)
    windows: dict = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        """Record the wall time of one phase of the run in the report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.info.setdefault("phase_s", {})[name] = round(time.perf_counter() - t0, 3)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _trace_metrics(ctx, res: dict, event_dir: str) -> dict:
    from perfbench import tracing

    tasks = tracing.read_event_log(event_dir)
    m = dict(res["metrics"])
    tot = tracing.task_totals(tasks, *ctx.windows["pipeline"])
    m.update({f"spark.{k}": v for k, v in tot.items()})
    if "sessions" in ctx.windows:
        s = tracing.task_totals(tasks, *ctx.windows["sessions"])
        m["sessions.shuffle_bytes"] = s["shuffle_write_bytes"]
        m["sessions.spill_bytes"] = s["spill_bytes"]
    m["session.build_s"] = ctx.sessions.build_s
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    return {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    # The program must be the checkout's own copy, not an installed one.
    try:
        import advanced_elb_logs_etl_spark as program
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {program.__file__} is not under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import etl, harness, stream, tracing

    run_dir = os.path.join(harness.WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    harness.configure_env(run_dir, event_dir)
    ctx = Ctx(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), run_dir=run_dir,
              inputs=os.path.join(harness.WORK, "inputs"),
              sessions=harness.Sessions(), tracer=tracing.Tracer())
    module = etl if args.workload == "etl_batch" else stream
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    t0 = time.time()
    try:
        try:
            res = module.run(ctx)
            rss = harness.peak_rss_mb(ctx.sessions.jvm_pid())
        finally:
            ctx.sessions.close()
        if args.trace:
            metrics = _trace_metrics(ctx, res, event_dir)
            spans = os.path.join(harness.WORK, "traces",
                                 f"{args.workload}-{ctx.tracer.run_id}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            ctx.tracer.dump(spans)
            ctx.info["spans"] = os.path.relpath(spans, ROOT)
        else:
            m = dict(res["metrics"], setup_s=ctx.sessions.ready_at_s, peak_rss_mb=rss)
            metrics = {k: {"value": float(m[k]), "unit": u} for k, u in END_TO_END.items()}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    ctx.info.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=args.trace, get_spark_s=ctx.sessions.build_s,
                    wall_s=time.time() - t0)
    print(json.dumps({"report": ctx.info}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
