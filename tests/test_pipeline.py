"""End-to-end pipeline test: gzip fixture -> parse -> enrich (seeded cache)
-> features -> windows -> four sinks; asserts output shapes per FIXTURES.md
§F5 and spot-checks semantics (sessions, rolling boundary, partition values).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import geo
from advanced_elb_logs_etl_spark.plans.pipeline import PipelineConfig, run_pipeline
from elb_fixtures import IPS, corpus, write_gz


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pipeline")
    gz = write_gz(str(tmp / "alb-log-1.gz"), corpus())
    # seed the geo cache for 3 of 4 IPs; 4.4.4.4 stays unenriched (offline)
    cache_path = str(tmp / "geo_cache.parquet")
    rows = [
        ("1.1.1.1", "success", None, "Australia", "AU", "QLD", "Q", "Brisbane",
         -27.5, 153.0, "Cloudflare", None),
        ("2.2.2.2", "success", None, "Germany", "DE", "BE", "Berlin", "Berlin",
         52.5, 13.4, "DTAG", None),
        ("3.3.3.3", "success", None, "United States", "US", "CA", "California",
         "Mountain View", 37.4, -122.1, "Google", None),
    ]
    cache = spark.createDataFrame(rows, geo.GEO_CACHE_SCHEMA)
    cache.write.parquet(cache_path)

    config = PipelineConfig(
        input_paths=[gz],
        output_dir=str(tmp / "output"),
        geo_cache_path=cache_path,
    )
    paths = run_pipeline(spark, config, transport=None)
    return spark, paths


def test_cleaned_logs_partition_layout(pipeline_out):
    spark, paths = pipeline_out
    parts = glob.glob(os.path.join(paths["cleaned_logs"], "year=*/month=*/day=*/countryCode=*"))
    assert parts, "no hive partitions written"
    # zero-padded month/day, UNK for the uncached IP's rows (S7 parity)
    assert any("month=05" in p for p in parts)
    assert any("countryCode=UNK" in p for p in parts)
    df = spark.read.parquet(paths["cleaned_logs"])
    # 13 good lines (15 fixture lines - short - bad timestamp)
    assert df.count() == 13
    # time stringified with Eastern offset (P17): '2025-05-26 08:00:00-0400'
    t = df.select("time").first()[0]
    assert t.endswith("-0400") or t.endswith("-0500")


def test_hourly_aggregation_output(pipeline_out):
    spark, paths = pipeline_out
    agg = spark.read.parquet(paths["hourly_agg"])
    cols = set(agg.columns)
    assert {"request_count", "unique_client_ips_count", "average_total_processing_time",
            "median_total_processing_time", "sum_sent_bytes", "sum_received_bytes",
            "count_2xx", "count_4xx", "count_5xx"} <= cols
    # null-geo rows (4.4.4.4) are excluded by the null-group-key parity filter
    assert agg.filter(F.col("countryName").isNull()).count() == 0
    total = agg.agg(F.sum("request_count")).first()[0]
    assert total == 11  # 13 parsed - 2 rows from the unenriched IP


def test_error_report_csv(pipeline_out):
    spark, paths = pipeline_out
    err = spark.read.option("header", True).csv(paths["error_report"])
    assert err.count() == 2  # 404 + 503
    assert len(err.columns) == 13
    reasons = {r.error_reason for r in err.collect()}
    assert "TargetNotFound" in reasons


def test_bot_reports(pipeline_out):
    spark, paths = pipeline_out
    details = spark.read.parquet(paths["bot_details"])
    assert details.count() == 3  # the Googlebot rows
    summary = spark.read.option("header", True).csv(paths["bot_summary"])
    rows = summary.collect()
    assert len(rows) == 1
    assert rows[0].countryName == "United States"
    assert int(rows[0].bot_request_count) == 3


def test_session_and_rolling_semantics(pipeline_out):
    spark, paths = pipeline_out
    df = spark.read.parquet(paths["cleaned_logs"])
    ip1 = df.filter(F.col("client_ip") == "1.1.1.1").orderBy("time")
    sessions = [r.session_id for r in ip1.collect()]
    # 5-event burst = session 1, then the 45-min-gap event = session 2
    assert sessions == ["1-1.1.1.1"] * 5 + ["2-1.1.1.1"]
    # left-open rolling boundary: second 4.4.4.4 event is exactly 300s after
    # the first -> excluded from its own 5-min trailing count (count = 1)
    ip4 = df.filter(F.col("client_ip") == "4.4.4.4").orderBy("time").collect()
    assert [r.rolling_5min_req_count for r in ip4] == [1, 1]
    # -1 sentinel total: -3000.0 ms, kept (not nulled)
    assert ip4[0].total_processing_time_ms == -3000.0


def test_pipeline_config_from_env(monkeypatch):
    from advanced_elb_logs_etl_spark.plans.pipeline import PipelineConfig

    monkeypatch.setenv("ELB_INPUT_PATHS", "/a/x.gz,/b/y.gz")
    monkeypatch.setenv("ELB_OUTPUT_DIR", "/out")
    config = PipelineConfig.from_env()
    assert config.input_paths == ["/a/x.gz", "/b/y.gz"]
    assert config.output_dir == "/out"
    assert config.geo_cache_path == "/out/ip_geolocation_cache.parquet"


def test_sample_json(pipeline_out):
    """S10 (reference :417-418): first-n JSON-lines sample."""
    import json as _json

    from advanced_elb_logs_etl_spark.operators.reports import sample_json

    spark, paths = pipeline_out
    df = spark.read.parquet(paths["cleaned_logs"])
    lines = sample_json(df, n=3)
    assert len(lines) == 3
    assert all("client_ip" in _json.loads(l) for l in lines)


def test_failed_sink_releases_persisted_frame(spark, tmp_path, monkeypatch):
    """A sink that cannot be written must not leave the persisted final
    frame cached in a long-lived session."""
    from pyspark.storagelevel import StorageLevel

    from advanced_elb_logs_etl_spark.plans import pipeline

    real_build = pipeline.build_final_frame
    built = []

    def recording_build(*args, **kwargs):
        built.append(real_build(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(pipeline, "build_final_frame", recording_build)

    gz = write_gz(str(tmp_path / "alb-log-1.gz"), corpus())
    out = tmp_path / "output"
    out.mkdir()
    (out / "reports").write_text("a file where the report directory goes")
    config = PipelineConfig(
        input_paths=[gz],
        output_dir=str(out),
        geo_cache_path=str(tmp_path / "geo_cache.parquet"),
    )
    with pytest.raises(Exception):
        run_pipeline(spark, config)
    # the session is shared with other tests' caches, so ask the cache
    # manager about this pipeline's frame rather than for an empty manager
    [final] = built
    assert final.storageLevel == StorageLevel.NONE
