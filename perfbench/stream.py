"""``stream_ingest``: an open loop.  A generator thread drops gz files into
a watched directory on a fixed schedule, below drain capacity, while
``streaming.pipeline.stream_alb_pipeline`` runs.  Each file's latency runs
from its due time to the commit of the micro-batch that consumed it."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time

from . import checks, gen, tracing
from .harness import dir_stats

LINES_PER_FILE = 4000
#: Seconds between drops.  A micro-batch of one such file takes 1.4-2.5 s
#: on 4 shared cores: the offered ~1140 lines/s keeps the query busy 40-70 %
#: of the time, so a slower host stretches each file's latency instead of
#: queueing files behind each other.
INTERVAL_S = 3.5
#: Files fed to the measured query one micro-batch at a time before the
#: open loop starts: a new query's first batch runs slow.
WARM_FILES = 1


def spec(seconds: int) -> gen.Spec:
    timed = max(4, round(seconds / INTERVAL_S))
    return gen.Spec(files=WARM_FILES + timed, lines_per_file=LINES_PER_FILE)


class Dropper(threading.Thread):
    """Copies each file into ``in_dir`` at ``start + i * interval``,
    whatever the system under test is doing; the rename makes a file
    visible whole."""

    def __init__(self, files: list[str], in_dir: str, start: float, interval: float):
        super().__init__(daemon=True)
        self.files, self.in_dir, self.start_at, self.interval = files, in_dir, start, interval
        self.due: dict[str, float] = {}
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, src in enumerate(self.files):
                due = self.start_at + i * self.interval
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                name = os.path.basename(src)
                tmp = os.path.join(self.in_dir, f".{name}.tmp")
                shutil.copyfile(src, tmp)
                os.rename(tmp, os.path.join(self.in_dir, name))
                self.due[name] = due
                self.late.append(time.time() - due)
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc


def _start_query(spark, in_dir: str, geo_cache: str, name: str, ckpt: str):
    from advanced_elb_logs_etl_spark.streaming.pipeline import stream_alb_pipeline

    out = stream_alb_pipeline(spark, in_dir, geo_cache)
    return (out.writeStream.format("memory").queryName(name).outputMode("complete")
            .option("checkpointLocation", ckpt).start())


def _commits(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(file name -> batch id) from the file-source log, and
    (batch id -> commit time) from the commit log's file times."""
    file_batch: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    file_batch[os.path.basename(entry["path"])] = int(entry["batchId"])
    commit_at: dict[int, float] = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            commit_at[int(name)] = os.stat(path).st_mtime
    return file_batch, commit_at


def _window_rows(spark, table: str) -> list[tuple]:
    rows = spark.sql(
        f"SELECT window_start, countryName, city, request_count FROM {table}").collect()
    return [(r[0].strftime("%Y-%m-%dT%H:00:00"), r[1], r[2], int(r[3])) for r in rows]


def _measure(ctx, spark, main: dict, in_dir: str, ckpt: str):
    """Start the query, warm it up one file per micro-batch, drop the rest
    on schedule, drain, and return the dropper, the final window rows and
    the timed batches' progress."""
    paths = [f["path"] for f in main["files"]]
    q = _start_query(spark, in_dir, main["geo_cache"], "hourly", ckpt)
    try:
        with ctx.phase("warm_up"):
            for path in paths[:WARM_FILES]:
                shutil.copy(path, in_dir)
                q.processAllAvailable()
            warm_batches = len(q.recentProgress)
        with ctx.phase("measure"):
            t_start = time.time() + 0.5
            dropper = Dropper(paths[WARM_FILES:], in_dir, t_start, INTERVAL_S)
            dropper.start()
            dropper.join(timeout=ctx.seconds * 4 + 60)
            if dropper.is_alive() or dropper.error is not None:
                raise RuntimeError(f"generator did not finish: {dropper.error!r}")
            q.processAllAvailable()
            t_end = time.time()
        windows = _window_rows(spark, "hourly")
        progress = [p for p in q.recentProgress[warm_batches:] if p.numInputRows > 0]
    finally:
        q.stop()
    return dropper, windows, progress, t_start, t_end


def run(ctx) -> dict:
    with ctx.phase("setup"):
        spark = ctx.sessions.build()
    with ctx.phase("generate"):
        main = gen.generate(ctx.inputs, ctx.seed, spec(ctx.seconds))
    ctx.info["input"] = main["stats"]
    ctx.info["drop_interval_s"] = INTERVAL_S

    sdir = os.path.join(ctx.run_dir, "stream")
    in_dir, ckpt = os.path.join(sdir, "in"), os.path.join(sdir, "ckpt")
    os.makedirs(in_dir)
    dropper, windows, progress, t_start, t_end = _measure(ctx, spark, main, in_dir, ckpt)

    file_batch, commit_at = _commits(ckpt)
    lat, failed_files = [], []
    for f in main["files"]:
        name = os.path.basename(f["path"])
        b = file_batch.get(name)
        if b is None or b not in commit_at:
            failed_files.append(name)
        elif name in dropper.due:
            lat.append(commit_at[b] - dropper.due[name])
    truth = gen.truth_of(main["files"])
    bad = checks.check_windows(windows, truth["windows"])
    if bad:
        print(f"window check failed: {sorted(bad)[:5]}", flush=True)
        for f in main["files"]:
            name = os.path.basename(f["path"])
            if name not in failed_files and bad & set(f["truth"]["windows"]):
                failed_files.append(name)
    if failed_files:
        print(f"stream files failed: {failed_files[:5]}", flush=True)
    attempted, failed = len(main["files"]), len(failed_files)
    rates = [p.numInputRows / (p.durationMs["triggerExecution"] / 1000.0) for p in progress]
    ctx.info.update(files=attempted, batches=len(progress), latency_s=lat,
                    gen_late_max_s=max(dropper.late), fail_ratio=failed / attempted)
    if not lat:
        raise RuntimeError("no dropped file was committed")
    if ctx.trace:
        return _traced(ctx, spark, main, progress, dropper, (t_start, t_end), attempted, failed)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "lines_per_s": statistics.median(rates),
            "out_bytes_per_in_byte": dir_stats(ckpt)[1] / main["stats"]["gz_bytes"],
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        },
    }


def _traced(ctx, spark, main, progress, dropper, window, attempted, failed) -> dict:
    """Stream counters from ``recentProgress``; layer times from a batch
    replay of scan -> parse -> geo -> features over the dropped files (the
    stateless part of every micro-batch)."""
    from advanced_elb_logs_etl_spark.operators.features import add_features
    from advanced_elb_logs_etl_spark.operators.geo import enrich_with_geolocation
    from advanced_elb_logs_etl_spark.operators.parse import parse_alb_lines
    from advanced_elb_logs_etl_spark.sources.elb import read_alb_lines

    in_dir = os.path.join(ctx.run_dir, "stream", "in")

    def plain_pass():
        featured = add_features(enrich_with_geolocation(
            spark, parse_alb_lines(read_alb_lines(spark, [in_dir])), main["geo_cache"]))
        featured.write.format("noop").mode("overwrite").save()

    plain_pass()  # warm the batch plans the replay runs
    t0 = time.perf_counter()
    plain_pass()
    plain_s = time.perf_counter() - t0
    tracer = ctx.tracer
    layer = tracing.replay_layers(spark, tracer, in_dir, main["geo_cache"], through="features")
    layer.update(tracing.layer_metrics(tracer, main["stats"], plain_s))
    state = [p.stateOperators[0] for p in progress if p.stateOperators]
    layer.update({
        "stream.batches": len(progress),
        "stream.trigger_s_p50": statistics.median(
            p.durationMs["triggerExecution"] / 1000.0 for p in progress),
        "stream.add_batch_s_p50": statistics.median(
            p.durationMs.get("addBatch", 0) / 1000.0 for p in progress),
        "stream.state_rows": state[-1].numRowsTotal if state else 0,
        "stream.state_bytes": state[-1].memoryUsedBytes if state else 0,
        "stream.gen_late_s": max(dropper.late),
    })
    ctx.windows = {"pipeline": window}
    return {"attempted": attempted, "failed": failed, "metrics": layer}
