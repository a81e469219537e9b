"""Full-pipeline composition — the reference's main() (:395-444) as one lazy
DataFrame DAG with four write actions.

Stage order matches the reference exactly: scan -> parse -> geo-enrich ->
features -> session/rolling windows -> {cleaned logs, hourly agg, error
report, bot reports}. Between stages nothing materializes; Catalyst sees the
whole plan per sink and pushes filters/prunes columns across stage
boundaries (e.g. the error report's 4xx/5xx filter reaches the parquet scan
of a cached intermediate, or the text scan itself when not cached).

The one imperative step is the geo fetch (uncached IPs must be fetched
before the join) — identical to the reference's control flow (:422).

Caching stance: the parsed+enriched+featured frame feeds four sinks, so
``run_pipeline`` persists it once (MEMORY_AND_DISK) before fan-out —
otherwise each sink would re-parse the raw text — and releases it when the
writes end, whether they succeed or not.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from ..operators.features import add_features
from ..operators.geo import Transport, enrich_with_geolocation
from ..operators.parse import parse_alb_lines
from ..operators.reports import (
    write_bot_traffic_reports,
    write_cleaned_logs,
    write_error_report,
    write_hourly_aggregation,
)
from ..operators.sessions import add_session_features
from ..session import (
    apply_runtime_confs,
    autosize_shuffle_partitions,
    shuffle_partitions_for,
)
from ..sources.elb import read_alb_lines

_LOG = logging.getLogger(__name__)

# Spark's stock spark.sql.shuffle.partitions — a session still carrying
# it is treated as "operator expressed no preference".
_SPARK_STOCK_SHUFFLE_PARTITIONS = 200

#: Raw-gz-bytes -> shuffled-row-bytes expansion estimate for ALB logs:
#: gzip text decompresses ~8-12x and the parsed/featured projection keeps
#: roughly a third of the decoded width, so 4x raw is the conservative
#: middle of session.autosize_shuffle_partitions' documented 2-4x band.
#: Over-estimating is forgiving (AQE coalesces); under-estimating is not.
_GZ_DECODE_FACTOR = 4.0


@dataclass
class PipelineConfig:
    """Env-driven config, mirroring the reference's dotenv block (:18-29)."""

    input_paths: list[str] = field(default_factory=list)
    output_dir: str = "output"
    geo_cache_path: str = "output/ip_geolocation_cache.parquet"
    exact_aggregates: bool = True

    @classmethod
    def from_env(cls) -> "PipelineConfig":
        out = os.environ.get("ELB_OUTPUT_DIR", "output")
        return cls(
            input_paths=[p for p in os.environ.get("ELB_INPUT_PATHS", "").split(",") if p],
            output_dir=out,
            geo_cache_path=os.environ.get(
                "ELB_GEO_CACHE_PATH", os.path.join(out, "ip_geolocation_cache.parquet")
            ),
        )


def estimate_input_bytes(
    spark: SparkSession,
    paths: list[str],
    decode_factor: float | None = None,
) -> int:
    """Sum the on-disk size of every input file (any Hadoop FS — local,
    s3a://, hdfs://; directories recurse, globs expand) times the decode
    factor — the ``input_bytes`` estimate autosize_shuffle_partitions
    documents.  Driver-side metadata listing only: the same FileSystem
    calls the scan's file index makes, no data is read."""
    if decode_factor is None:
        decode_factor = float(
            os.environ.get("ELB_DECODE_FACTOR", str(_GZ_DECODE_FACTOR))
        )
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        fs = path.getFileSystem(hconf)
        statuses = fs.globStatus(path)
        if statuses is None:
            continue
        for st in statuses:
            if st.isDirectory():
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    total += it.next().getLen()
            else:
                total += st.getLen()
    return int(total * decode_factor)


def autosize_for_inputs(spark: SparkSession, paths: list[str]) -> int | None:
    """Production entry-path shuffle sizing (VERDICT r8 item 5): size
    ``spark.sql.shuffle.partitions`` from the input listing so a 100x
    deployment gets the 200x-wave fix (SCALE.md round 8: the W1-W7
    window sort serialized and spilled at the fixed local default —
    15.3 s at 32 partitions vs 8.0 s at 128; AQE coalesces small
    partitions but can never SPLIT past the configured count) without
    reading MIGRATION.md.

    ``ELB_SHUFFLE_PARTITIONS`` overrides with an explicit count;
    ``ELB_DECODE_FACTOR`` tunes the raw->shuffled expansion estimate.
    Returns the applied partition count, or None when the inputs can't
    be sized (estimate 0 — e.g. not-yet-created test paths): the
    session default stands."""
    explicit = os.environ.get("ELB_SHUFFLE_PARTITIONS")
    if explicit:
        try:
            parts = int(explicit.strip())
        except ValueError as exc:
            raise ValueError(
                f"ELB_SHUFFLE_PARTITIONS must be an integer, got "
                f"{explicit!r}"
            ) from exc
        if parts < 1:
            raise ValueError(
                f"ELB_SHUFFLE_PARTITIONS must be >= 1, got {parts}"
            )
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        return parts
    est = estimate_input_bytes(spark, paths)
    if est <= 0:
        return None
    # Honor a deliberate session-level setting (ADVICE r9): when the
    # operator configured spark.sql.shuffle.partitions away from Spark's
    # stock default (200), the estimate may RAISE the count (the sizing
    # exists to prevent undersized window sorts) but never silently
    # LOWER it — on small inputs the estimate clamps to
    # defaultParallelism, which would override a deliberately higher
    # value.  An untouched default gets the full estimate both ways.
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        current = _SPARK_STOCK_SHUFFLE_PARTITIONS
    computed = shuffle_partitions_for(spark, est)
    if current != _SPARK_STOCK_SHUFFLE_PARTITIONS and computed <= current:
        _LOG.info(
            "autosize_for_inputs: keeping session spark.sql.shuffle."
            "partitions=%d (estimate %d would lower a deliberate setting)",
            current,
            computed,
        )
        return None
    applied = autosize_shuffle_partitions(spark, est)
    if applied != current:
        _LOG.info(
            "autosize_for_inputs: spark.sql.shuffle.partitions %d -> %d "
            "(input estimate %d bytes)",
            current,
            applied,
            est,
        )
    return applied


def build_final_frame(
    spark: SparkSession,
    input_paths: list[str],
    geo_cache_path: str,
    transport: Transport | None = None,
) -> DataFrame:
    """scan -> parse -> enrich -> features -> windows, fully lazy."""
    apply_runtime_confs(spark)
    raw = read_alb_lines(spark, input_paths)
    parsed = parse_alb_lines(raw)
    enriched = enrich_with_geolocation(spark, parsed, geo_cache_path, transport=transport)
    featured = add_features(enriched)
    return add_session_features(featured)


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    transport: Transport | None = None,
) -> dict[str, str]:
    """Execute the four sinks (reference :428-438). Returns output paths."""
    autosize_for_inputs(spark, config.input_paths)
    final = build_final_frame(
        spark, config.input_paths, config.geo_cache_path, transport
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out = config.output_dir
    paths = {
        "cleaned_logs": os.path.join(out, "cleaned_logs"),
        "hourly_agg": os.path.join(out, "aggregated_stats", "hourly_traffic_by_geo"),
        "error_report": os.path.join(out, "reports", "error_summary_geo"),
        "bot_details": os.path.join(out, "reports", "bot_traffic_details"),
        "bot_summary": os.path.join(out, "reports", "bot_traffic_by_origin_summary"),
    }
    try:
        write_cleaned_logs(final, paths["cleaned_logs"])
        write_hourly_aggregation(final, paths["hourly_agg"], exact=config.exact_aggregates)
        write_error_report(final, paths["error_report"])
        write_bot_traffic_reports(final, paths["bot_details"], paths["bot_summary"])
    finally:
        final.unpersist()
    return paths
