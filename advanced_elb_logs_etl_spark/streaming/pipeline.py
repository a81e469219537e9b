"""Streaming ELB ingestion: the batch parse/feature stack applied to a file
stream — new .gz objects landing in a directory are parsed incrementally.

Because the whole parse/feature path is stateless Column expressions
(operators/parse.py, operators/features.py), it lifts onto Structured
Streaming unchanged — the same code object serves batch and streaming. Only
the session/rolling operators need the dedicated streaming forms in
streaming/sessions.py (they are stateful).

The scan is the batch scan's streaming form (sources/elb.py) and the hourly
metrics are the batch report's (operators/reports.py); only the group key
and the watermark are stream-specific here.

At scale this is the ALB delivery pattern: the load balancer drops a gz
object every 5 minutes per AZ; a fixed maxFilesPerTrigger bounds per-batch
work and the checkpoint directory gives exactly-once sink semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.features import add_features
from ..operators.parse import parse_alb_lines
from ..operators.reports import geo_located, hourly_metrics
from ..sources.elb import read_alb_stream


def parse_alb_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming parsed+featured frame: exactly the batch operators applied
    to a streaming source. Attach a writeStream sink (parquet + checkpoint
    in production; memory in tests) to run it."""
    return add_features(parse_alb_lines(read_alb_stream(spark, path)))


def hourly_aggregation_stream(
    df: DataFrame, ts: str = "time", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of reports.hourly_aggregation — the same null-geo
    filter and nine metrics, in their approx forms (exact countDistinct and
    exact median cannot be maintained incrementally with bounded state,
    which is precisely why hourly_aggregation(exact=False) exists). Only the
    group key differs: an event-time tumbling 1-hour window replaces the
    Eastern date-part keys (same hourly granularity; window bounds are
    instants, presentation-layer tz is the sink's concern).

    Append mode: a window's row is emitted once, when the watermark passes
    its end — the streaming form of the batch job's \"hour is complete\"
    contract. State is bounded by (watermark horizon / 1h) x |geo| keys."""
    return (
        geo_located(df)
        .withWatermark(ts, watermark)
        .groupBy(F.window(F.col(ts), "1 hour").alias("w"), "countryName", "city")
        .agg(*hourly_metrics(exact=False))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "countryName", "city", "request_count", "unique_client_ips_count",
            "average_total_processing_time", "median_total_processing_time",
            "sum_sent_bytes", "sum_received_bytes",
            "count_2xx", "count_4xx", "count_5xx",
        )
    )


def stream_alb_pipeline(
    spark: SparkSession,
    input_path: str,
    geo_cache_path: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """The reference main() flow as one streaming DAG: gz file stream ->
    parse -> geo enrichment -> features -> watermarked hourly aggregation.

    The geo cache is a STATIC frame joined to the stream (stream-static
    broadcast join — per micro-batch, no streaming state); refreshing the
    cache means restarting the query, which matches the batch job's
    load-once semantics (reference :231-265). The stateful tail is only the
    windowed aggregation, watermark-bounded."""
    from ..operators.geo import enrich, load_geo_cache

    raw = read_alb_stream(spark, input_path)
    parsed = parse_alb_lines(raw)
    enriched = enrich(parsed, load_geo_cache(spark, geo_cache_path))
    featured = add_features(enriched)
    return hourly_aggregation_stream(featured, watermark=watermark)
