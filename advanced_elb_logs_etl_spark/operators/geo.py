"""Geolocation enrichment with a persistent cache (reference
enrich_with_geolocation + fetch_geolocation + load_geo_cache,
/root/reference/advanced_elb_logs_etl.py:173-265).

Spark decomposition:
- cache load (S5)          -> small dimension DataFrame from parquet
- miss detection (J2)      -> distinct client_ips LEFT ANTI JOIN cache
- fetch (S6)               -> injectable transport, driver-side sequential
                              loop with the reference's etiquette (0.7 s
                              spacing, capped 429 retry, 5 s timeout)
- cache upsert (J4)        -> unionByName + keep-last row_number dedup
- enrichment join (J1/P16) -> BROADCAST left join + country->countryName

Why the fetch is driver-side: the public API allows ~1.4 req/s as a
GLOBAL budget (reference :242), so the fetch loop is latency-bound no
matter where it runs — an executor task spacing requests the same way
fetches no faster — and the miss list reaching the driver is capped in
the plan at ``MAX_UNCACHED_IPS``. At 100 TB a live HTTP fetch is the
wrong tool regardless — swap the cache for a licensed offline geo dataset
and `enrich` is already just a broadcast dim join.
Tests never touch the network (transport is injected).
"""

from __future__ import annotations

import logging
import time as _time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_logger = logging.getLogger(__name__)

#: F4 cache schema (reference :203-206); `query` is the IP key.
GEO_CACHE_SCHEMA = T.StructType(
    [
        T.StructField("query", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("countryCode", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("regionName", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("isp", T.StringType()),
        T.StructField("api_fetch_timestamp", T.TimestampType()),
    ]
)

#: ip-api.com response fields requested by the reference (:176).
_API_FIELDS = "status,message,country,countryCode,region,regionName,city,lat,lon,isp,query"

Transport = Callable[[str], dict]


def load_geo_cache(spark: SparkSession, path: str) -> DataFrame:
    """Read the cache parquet; absent/unreadable -> empty frame with the
    declared schema (reference load_geo_cache :201-229, minus its
    index-shuffling — Spark has no index)."""
    try:
        df = spark.read.parquet(path)
        for field in GEO_CACHE_SCHEMA.fields:
            if field.name not in df.columns:
                df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
        return df.select(*[f.name for f in GEO_CACHE_SCHEMA.fields])
    except Exception:
        return spark.createDataFrame([], GEO_CACHE_SCHEMA)


#: Driver-side safety cap for the uncached-IP list. The sequential fetch
#: spends 0.7 s per IP (reference :242), so even this many is ~19 hours of
#: API time — any cold cache bigger than that needs an operational decision,
#: not a driver OOM. Raise via the parameter when that decision is made.
MAX_UNCACHED_IPS = 100_000


def find_uncached_ips(
    logs: DataFrame,
    cache: DataFrame,
    ip_col: str = "client_ip",
    max_ips: int | None = MAX_UNCACHED_IPS,
) -> list[str]:
    """Distinct non-null IPs absent from the cache (A8 + J2, reference
    :235-236). The distinct shuffles keys only; the anti-join probes the
    (small, broadcast) cache.

    The result is a DRIVER list by design (the rate-limited sequential
    fetch needs one), so it is bounded: at most ``max_ips`` rows ever reach
    the driver (the cap is plan-side, not a post-collect trim, so a cold
    cache at 100x scale cannot OOM the driver). The cap is DETERMINISTIC —
    the plan takes the first ``max_ips`` IPs in sort order (a per-partition
    heap TakeOrdered, not a global sort), so repeated runs drain the miss
    backlog in a stable order instead of fetching a different arbitrary
    subset each time — and truncation is logged loudly, never silent.
    ``max_ips=None`` removes the guard."""
    distinct_ips = logs.select(F.col(ip_col).alias("ip")).filter(F.col("ip").isNotNull()).distinct()
    missing = distinct_ips.join(
        F.broadcast(cache.select("query")), distinct_ips.ip == F.col("query"), "left_anti"
    )
    if max_ips is None:
        return [r.ip for r in missing.collect()]
    # Fetch one extra row so truncation is detectable without a count() job.
    rows = [r.ip for r in missing.orderBy("ip").limit(max_ips + 1).collect()]
    if len(rows) > max_ips:
        _logger.warning(
            "find_uncached_ips: more than %d uncached IPs; truncating to the "
            "first %d in sort order (the rest remain un-enriched this run — "
            "raise max_ips or re-run to drain the backlog)",
            max_ips,
            max_ips,
        )
        rows = rows[:max_ips]
    return rows


def default_http_transport(timeout_s: float = 5.0) -> Transport:
    """Live ip-api.com transport (reference fetch_geolocation :174-199).
    Only constructed on demand — tests and offline mode never import
    requests."""
    import requests  # deferred: not needed in hermetic mode

    def fetch(ip: str) -> dict:
        url = f"http://ip-api.com/json/{ip}?fields={_API_FIELDS}"
        resp = requests.get(url, timeout=timeout_s)
        if resp.status_code == 429:
            return {"__retry__": True}
        return resp.json()

    return fetch


def _fail_row(ip: str, message: str) -> dict:
    return {
        "status": "fail",
        "message": message,
        "query": ip,
        "country": None,
        "countryCode": None,
        "region": None,
        "regionName": None,
        "city": None,
        "lat": None,
        "lon": None,
        "isp": None,
    }


def _fetch_one(
    ip: str,
    transport: Transport,
    retry_backoff_s: float,
    max_retries: int,
    sleep: Callable[[float], None],
) -> dict:
    """One IP through the capped-retry etiquette."""
    data: dict | None = None
    for attempt in range(max_retries + 1):
        try:
            data = transport(ip)
        except Exception as exc:  # transport failure -> stub row (:194-199)
            return _fail_row(ip, str(exc))
        if not data.get("__retry__"):
            break
        if attempt < max_retries:  # no point backing off after the last try
            sleep(retry_backoff_s)
        data = None
    if data is None or data.get("__retry__"):
        data = _fail_row(ip, "rate limited: retries exhausted")
    elif data.get("status") != "success":  # API error -> stub row (:186-193)
        data = _fail_row(ip, data.get("message", "API Error"))
    data.pop("__retry__", None)
    return data


def fetch_geolocations(
    ips: list[str],
    transport: Transport,
    inter_request_delay_s: float = 0.7,
    retry_backoff_s: float = 1.0,
    max_retries: int = 5,
    sleep: Callable[[float], None] = _time.sleep,
) -> list[dict]:
    """Sequential rate-limited fetch (reference :239-242). Divergence from
    the reference, on purpose: its HTTP-429 retry recurses unbounded
    (:178-180); we cap at ``max_retries`` (SURVEY.md §7.3 item 6)."""
    rows: list[dict] = []
    for i, ip in enumerate(ips):
        rows.append(_fetch_one(ip, transport, retry_backoff_s, max_retries, sleep))
        if i + 1 < len(ips):
            sleep(inter_request_delay_s)
    return rows


def _cell(row: dict, field: T.StructField):
    v = row.get(field.name)
    # ip-api returns country-level coords as JSON integers (lat: 35);
    # an int in a DoubleType field makes createDataFrame raise.
    if v is not None and isinstance(field.dataType, T.DoubleType):
        return float(v)
    return v


def upsert_cache(spark: SparkSession, cache: DataFrame, new_rows: list[dict]) -> DataFrame:
    """Append fetched rows and keep the newest row per IP (J4, reference
    :243-247: concat + drop-duplicated-index-keep-last). New rows get the
    fetch timestamp here (reference stamps at :183)."""
    if not new_rows:
        return cache
    fresh = spark.createDataFrame(
        [
            tuple(_cell(r, f) for f in GEO_CACHE_SCHEMA.fields[:-1])
            for r in new_rows
        ],
        T.StructType(GEO_CACHE_SCHEMA.fields[:-1]),
    ).withColumn("api_fetch_timestamp", F.current_timestamp())
    # keep-last: fresh rows outrank cache rows; remaining ties (duplicate
    # rows inside an old cache file with equal timestamps) break on a row
    # content hash so the winner is deterministic across runs.
    merged = cache.withColumn("_src", F.lit(0)).unionByName(fresh.withColumn("_src", F.lit(1)))
    content = F.md5(F.concat_ws("\u001f", *[F.col(f.name).cast("string")
                                             for f in GEO_CACHE_SCHEMA.fields[:-1]]))
    w = Window.partitionBy("query").orderBy(
        F.col("_src").desc(), F.col("api_fetch_timestamp").desc_nulls_last(), content
    )
    return (merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_src"))


def write_cache(cache: DataFrame, path: str) -> None:
    """Persist the cache (S8). The cache is dimension-sized; one file."""
    cache.coalesce(1).write.mode("overwrite").parquet(path)


def enrich(logs: DataFrame, cache: DataFrame, ip_col: str = "client_ip") -> DataFrame:
    """Broadcast left join + rename (J1/P16, reference :250-261): every log
    row keeps flowing (left), cache hits attach geo columns, `country`
    becomes `countryName`. No shuffle of the fact side — the cache is
    broadcast, which is the only sane plan at 100 TB."""
    geo = cache.withColumnRenamed("country", "countryName")
    return logs.join(F.broadcast(geo), logs[ip_col] == geo["query"], "left")


def enrich_with_geolocation(
    spark: SparkSession,
    logs: DataFrame,
    cache_path: str,
    transport: Transport | None = None,
    inter_request_delay_s: float = 0.7,
    max_ips: int | None = MAX_UNCACHED_IPS,
) -> DataFrame:
    """The full reference flow (:231-265): load cache -> find misses ->
    (optional) fetch + upsert + persist -> broadcast join. With no
    transport, run cache-only (hermetic/offline mode — misses simply stay
    un-enriched, matching the reference's degrade-and-continue stance)."""
    cache = load_geo_cache(spark, cache_path)
    if transport is not None:
        missing = find_uncached_ips(logs, cache, ip_col="client_ip", max_ips=max_ips)
        if missing:
            rows = fetch_geolocations(
                missing, transport, inter_request_delay_s=inter_request_delay_s
            )
            cache = upsert_cache(spark, cache, rows)
            write_cache(cache, cache_path)
            cache = load_geo_cache(spark, cache_path)
    return enrich(logs, cache)
