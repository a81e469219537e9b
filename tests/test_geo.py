"""Geo enrichment tests — hermetic (injected transport + seeded cache;
never touches the network). Covers F4 fixtures: cache hits, misses, fail
rows, duplicate keep-last, unenriched left-join rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_elb_logs_etl_spark.operators import geo


def _seed_cache(spark, tmp_path):
    cache_path = str(tmp_path / "geo_cache.parquet")
    rows = [
        ("1.1.1.1", "success", None, "Australia", "AU", "QLD", "Queensland",
         "Brisbane", -27.47, 153.02, "Cloudflare", None),
        ("2.2.2.2", "fail", "private range", None, None, None, None, None,
         None, None, None, None),
    ]
    df = spark.createDataFrame(rows, geo.GEO_CACHE_SCHEMA)
    df = df.withColumn("api_fetch_timestamp", F.current_timestamp())
    df.write.parquet(cache_path)
    return cache_path


def _logs(spark, ips):
    return spark.createDataFrame([(ip,) for ip in ips], "client_ip string")


def test_missing_cache_is_empty_frame(spark, tmp_path):
    cache = geo.load_geo_cache(spark, str(tmp_path / "nope.parquet"))
    assert cache.count() == 0
    assert [f.name for f in cache.schema.fields] == [
        f.name for f in geo.GEO_CACHE_SCHEMA.fields
    ]


def test_find_uncached_ips(spark, tmp_path):
    cache = geo.load_geo_cache(spark, _seed_cache(spark, tmp_path))
    logs = _logs(spark, ["1.1.1.1", "2.2.2.2", "3.3.3.3", "3.3.3.3", None])
    assert geo.find_uncached_ips(logs, cache) == ["3.3.3.3"]


def test_find_uncached_ips_driver_collect_is_bounded(spark, tmp_path):
    """A cold cache against a large distinct-IP set must never collect more
    than max_ips rows to the driver (the cap is a plan-side limit)."""
    cache = geo.load_geo_cache(spark, str(tmp_path / "cold.parquet"))  # empty
    many = spark.range(0, 5000).select(
        F.concat(F.lit("10.0."), (F.col("id") / 250).cast("int"),
                 F.lit("."), (F.col("id") % 250)).alias("client_ip")
    )
    got = geo.find_uncached_ips(many, cache, max_ips=100)
    assert len(got) == 100
    # and the uncapped form still returns everything when asked to
    assert len(geo.find_uncached_ips(many, cache, max_ips=None)) == 5000


def test_fetch_rate_limit_and_failures():
    calls = []
    sleeps = []

    def transport(ip):
        calls.append(ip)
        if ip == "9.9.9.9":
            return {"__retry__": True}  # always 429
        if ip == "8.8.8.8":
            raise RuntimeError("boom")
        if ip == "7.7.7.7":
            return {"status": "fail", "message": "private range", "query": ip}
        return {"status": "success", "query": ip, "country": "X", "countryCode": "XX",
                "region": "R", "regionName": "RN", "city": "C", "lat": 1.0,
                "lon": 2.0, "isp": "ISP", "message": None}

    rows = geo.fetch_geolocations(
        ["6.6.6.6", "7.7.7.7", "8.8.8.8", "9.9.9.9"],
        transport, inter_request_delay_s=0.7, retry_backoff_s=1.0,
        max_retries=2, sleep=sleeps.append,
    )
    by_ip = {r["query"]: r for r in rows}
    assert by_ip["6.6.6.6"]["status"] == "success"
    assert by_ip["7.7.7.7"]["status"] == "fail" and by_ip["7.7.7.7"]["message"] == "private range"
    assert by_ip["8.8.8.8"]["status"] == "fail" and "boom" in by_ip["8.8.8.8"]["message"]
    # capped retry (reference recurses unbounded; we stop)
    assert by_ip["9.9.9.9"]["status"] == "fail"
    assert calls.count("9.9.9.9") == 3  # initial + 2 retries
    # etiquette: 0.7s between requests, 1.0s retry backoffs
    assert sleeps.count(0.7) == 3 and sleeps.count(1.0) == 2


def test_upsert_keep_last(spark, tmp_path):
    cache = geo.load_geo_cache(spark, _seed_cache(spark, tmp_path))
    new = [{"query": "1.1.1.1", "status": "success", "message": None,
            "country": "AUS-UPDATED", "countryCode": "AU", "region": "QLD",
            "regionName": "Queensland", "city": "Brisbane", "lat": -27.0,
            "lon": 153.0, "isp": "CF"}]
    merged = geo.upsert_cache(spark, cache, new)
    assert merged.count() == 2  # still unique per IP
    row = merged.filter(F.col("query") == "1.1.1.1").collect()[0]
    assert row.country == "AUS-UPDATED"  # new fetch wins over old cache row


def test_enrich_broadcast_left_join(spark, tmp_path):
    cache = geo.load_geo_cache(spark, _seed_cache(spark, tmp_path))
    logs = _logs(spark, ["1.1.1.1", "3.3.3.3"])
    out = geo.enrich(logs, cache)
    rows = {r.client_ip: r for r in out.collect()}
    assert rows["1.1.1.1"].countryName == "Australia"  # P16 rename applied
    assert rows["3.3.3.3"].countryName is None  # left join keeps misses
    # the physical plan must be a broadcast join (scale contract)
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_end_to_end_fetch_and_persist(spark, tmp_path):
    cache_path = _seed_cache(spark, tmp_path)
    fetched = []

    def transport(ip):
        fetched.append(ip)
        return {"status": "success", "query": ip, "country": "Wonderland",
                "countryCode": "WL", "region": "W", "regionName": "W",
                "city": "Rabbit Hole", "lat": 0.0, "lon": 0.0, "isp": "Hatter",
                "message": None}

    logs = _logs(spark, ["1.1.1.1", "5.5.5.5"])
    out = geo.enrich_with_geolocation(
        spark, logs, cache_path, transport=transport, inter_request_delay_s=0.0
    )
    assert fetched == ["5.5.5.5"]  # only the miss is fetched
    rows = {r.client_ip: r for r in out.collect()}
    assert rows["5.5.5.5"].countryName == "Wonderland"
    # cache was persisted with the new row
    assert geo.load_geo_cache(spark, cache_path).count() == 3


def test_fetch_and_upsert_coerces_int_coords_and_keeps_fail_rows(spark, tmp_path):
    """ip-api returns country-level coords as JSON ints and reports API
    failures as rows; both must survive the upsert into the double-typed
    cache and be persisted."""
    cache_path = _seed_cache(spark, tmp_path)

    def transport(ip):
        if ip == "9.9.9.9":
            return {"status": "fail", "message": "reserved range", "query": ip}
        return {"status": "success", "query": ip, "country": f"Wonder-{ip}",
                "countryCode": "WL", "region": "W", "regionName": "W",
                "city": "Rabbit Hole", "lat": 35, "lon": 0.5, "isp": "Hatter",
                "message": None}

    logs = _logs(spark, ["1.1.1.1", "5.5.5.5", "9.9.9.9"])
    out = geo.enrich_with_geolocation(
        spark, logs, cache_path, transport=transport, inter_request_delay_s=0.0
    )
    rows = {r.client_ip: r for r in out.collect()}
    assert rows["5.5.5.5"].countryName == "Wonder-5.5.5.5"
    assert rows["5.5.5.5"].lat == 35.0  # int coord coerced to double
    assert rows["9.9.9.9"].status == "fail"  # API failure -> stub row kept
    assert rows["9.9.9.9"].message == "reserved range"
    assert rows["1.1.1.1"].countryName == "Australia"  # cache hit untouched
    # both misses persisted to the cache
    persisted = geo.load_geo_cache(spark, cache_path)
    assert persisted.count() == 4


def test_find_uncached_ips_truncation_warns(spark, tmp_path, caplog):
    """Capping the miss backlog is logged loudly, never silent."""
    import logging

    cache = geo.load_geo_cache(spark, _seed_cache(spark, tmp_path))
    logs = _logs(spark, ["5.5.5.5", "4.4.4.4", "6.6.6.6"])
    with caplog.at_level(logging.WARNING, logger=geo.__name__):
        assert geo.find_uncached_ips(logs, cache, max_ips=1) == ["4.4.4.4"]
        assert any("more than 1 uncached IPs" in r.message for r in caplog.records)
        caplog.clear()
        # under the cap: no warning
        geo.find_uncached_ips(logs, cache, max_ips=100)
        assert not caplog.records
