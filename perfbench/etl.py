"""``etl_batch``: the product path.  ``plans.pipeline.run_pipeline`` turns
many small gz files into the five sinks; a closed-loop dashboard client
then reads the ``cleaned_logs`` layout that ``operators.reports`` wrote."""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import checks, gen, queries, tracing
from .harness import dir_stats

#: 20k lines in 8 five-minute objects.
SPEC = gen.Spec(files=8, lines_per_file=2500)
#: The traced run warms up on one small object first: a cold first call
#: costs about the same whatever its size.
WARM_SPEC = gen.Spec(files=1, lines_per_file=500)
#: Three of each query type at least.
MIN_QUERIES = 12


def _log_dir(manifest: dict) -> str:
    return os.path.dirname(manifest["files"][0]["path"])


def _pipeline(spark, manifest: dict, out: str) -> dict[str, str]:
    from advanced_elb_logs_etl_spark.plans.pipeline import PipelineConfig, run_pipeline

    cfg = PipelineConfig(input_paths=[_log_dir(manifest)], output_dir=out,
                         geo_cache_path=manifest["geo_cache"])
    return run_pipeline(spark, cfg)


def _warm_queries(spark, cleaned: str) -> None:
    """One untimed query of each type: the first of a type compiles its
    plan's generated code."""
    for kind, params in queries.query_mix(0, queries.partitions(cleaned), len(queries.QUERY_TYPES)):
        queries.run_spark(spark, cleaned, kind, params)


def _run_queries(ctx, spark, cleaned: str, budget_s: float):
    """Closed loop, one client: the next query is sent when the last one
    returns.  Stops at a block boundary once ``budget_s`` is spent and at
    least ``MIN_QUERIES`` ran.  Returns ``[(kind, params, latency_s,
    rows | exception)]``."""
    mix = queries.query_mix(ctx.seed, queries.partitions(cleaned), 10_000)
    done, t0 = [], time.perf_counter()
    for kind, params in mix:
        if (len(done) >= MIN_QUERIES and len(done) % len(queries.QUERY_TYPES) == 0
                and time.perf_counter() - t0 >= budget_s):
            break
        q0 = time.perf_counter()
        try:
            rows = queries.run_spark(spark, cleaned, kind, params)
        except Exception as exc:  # a failed query is counted, not fatal
            rows = exc
        done.append((kind, params, time.perf_counter() - q0, rows))
    return done


def _check_queries(cleaned: str, done) -> int:
    oracle = queries.Oracle(cleaned)
    failed = 0
    try:
        for kind, params, _, rows in done:
            want = oracle.answer(kind, params)
            if isinstance(rows, Exception) or not checks.same_rows(rows, want):
                failed += 1
                print(f"query check failed: {kind} {params}", flush=True)
    finally:
        oracle.close()
    return failed


def _check_sinks(paths: dict[str, str], truth: dict) -> int:
    problems = checks.check_pipeline_outputs(paths, truth)
    for p in problems:
        print(f"sink check failed: {p}", flush=True)
    return 1 if problems else 0


def run(ctx) -> dict:
    """One timed ``run_pipeline`` call, the first in a fresh session as a
    scheduled batch job makes it, then the dashboard client reading what it
    wrote.  The traced run warms the pipeline up first (see ``_traced``)."""
    with ctx.phase("setup"):
        spark = ctx.sessions.build()
    with ctx.phase("generate"):
        main = gen.generate(ctx.inputs, ctx.seed, SPEC)
    truth = gen.truth_of(main["files"])
    ctx.info["input"] = main["stats"]
    out = os.path.join(ctx.run_dir, "out")
    if ctx.trace:
        return _traced(ctx, spark, main, truth, out)

    with ctx.phase("measure_pipeline"):
        t0 = time.perf_counter()
        paths = _pipeline(spark, main, out)
        wall = time.perf_counter() - t0
    failed = _check_sinks(paths, truth)
    sink_bytes = sum(dir_stats(p)[1] for p in paths.values())
    cleaned = paths["cleaned_logs"]
    _warm_queries(spark, cleaned)
    with ctx.phase("measure_queries"):
        done = _run_queries(ctx, spark, cleaned, ctx.seconds - wall)
    attempted = 1 + len(done)
    failed += _check_queries(cleaned, done)
    lat = [d[2] for d in done]
    ctx.info.update(pipeline_wall_s=wall, query_latency_s=lat, fail_ratio=failed / attempted)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "lines_per_s": main["stats"]["lines"] / wall,
            "out_bytes_per_in_byte": sink_bytes / main["stats"]["gz_bytes"],
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        },
    }


def _traced(ctx, spark, main: dict, truth: dict, out: str) -> dict:
    """A warm-up call on a small input, one untraced ``run_pipeline`` call,
    then the traced replay of its steps into the same sinks, then the
    query types under spans.  The warm-up keeps JIT and code generation
    out of both the plain and the traced timings, so their difference is
    the tracing overhead."""
    with ctx.phase("warm_up"):
        warm = gen.generate(ctx.inputs, ctx.seed, WARM_SPEC)
        _pipeline(spark, warm, os.path.join(ctx.run_dir, "warm"))
    t0 = time.perf_counter()
    paths = _pipeline(spark, main, out)
    plain_s = time.perf_counter() - t0
    failed = _check_sinks(paths, truth)
    shutil.rmtree(out)

    tracer = ctx.tracer
    layer = tracing.replay_layers(spark, tracer, _log_dir(main), main["geo_cache"], sinks=paths)
    failed += _check_sinks(paths, truth)

    cleaned = paths["cleaned_logs"]
    _warm_queries(spark, cleaned)
    per_type: dict[str, list[float]] = {k: [] for k in queries.QUERY_TYPES}
    done = []
    for kind, params in queries.query_mix(ctx.seed, queries.partitions(cleaned), MIN_QUERIES):
        with tracer.span(f"query.{kind}"):
            rows = queries.run_spark(spark, cleaned, kind, params)
        per_type[kind].append(tracer.spans[-1].dur)
        done.append((kind, params, tracer.spans[-1].dur, rows))
    failed += _check_queries(cleaned, done)

    files, nbytes = dir_stats(cleaned, ".parquet")
    layer.update(tracing.layer_metrics(tracer, main["stats"], plain_s))
    layer.update({
        "pipeline.materialize_s": tracer.get("materialize").dur,
        "reports.cleaned_logs.write_s": tracer.get("reports.cleaned_logs").dur,
        "reports.cleaned_logs.files": files,
        "reports.cleaned_logs.bytes": nbytes,
        "reports.hourly_agg.write_s": tracer.get("reports.hourly_agg").dur,
        "reports.error_report.write_s": tracer.get("reports.error_report").dur,
        "reports.bot.write_s": tracer.get("reports.bot").dur,
    })
    for kind, lat in per_type.items():
        layer[f"reports.query.{kind}_s"] = statistics.median(lat)
    root, sessions = tracer.get("pipeline"), tracer.get("sessions")
    ctx.windows = {"pipeline": (root.start, root.end), "sessions": (sessions.start, sessions.end)}
    return {"attempted": 2 + len(done), "failed": failed, "metrics": layer}
