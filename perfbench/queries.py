"""Dashboard queries over the hive-partitioned ``cleaned_logs`` dataset,
each with a DuckDB oracle over the same files.

A closed loop with one client runs a seeded mix of four query types:

- ``hourly_day_country``: ``reports.hourly_aggregation`` on one
  day/country partition (partition pruning);
- ``errors_by_day``: 4xx/5xx counts per day and status class;
- ``bot_origin``: ``reports.bot_origin_summary`` over the whole dataset;
- ``top_paths``: the ten most requested paths of one day.
"""

from __future__ import annotations

import os
import random
import re

from pyspark.sql import functions as F

QUERY_TYPES = ("hourly_day_country", "errors_by_day", "bot_origin", "top_paths")

_PART_RE = re.compile(r"year=(\d+)/month=(\d+)/day=(\d+)/countryCode=([A-Z]+)$")


def partitions(cleaned: str) -> list[tuple[int, int, int, str]]:
    """(year, month, day, countryCode) of every partition directory."""
    out = []
    for dirpath, _, _ in os.walk(cleaned):
        m = _PART_RE.search(dirpath.replace(os.sep, "/"))
        if m:
            out.append((int(m[1]), int(m[2]), int(m[3]), m[4]))
    return sorted(out)


def query_mix(seed: int, parts: list[tuple[int, int, int, str]], n: int) -> list[tuple]:
    """``n`` seeded ``(type, params)`` picks.  Types come in shuffled blocks
    holding each type once, so every run has the same mix; params name
    real partitions."""
    rng = random.Random(f"perfbench:{seed}:queries")
    geo_parts = [p for p in parts if p[3] != "UNK"]
    days = sorted({p[:3] for p in parts})
    mix = []
    while len(mix) < n:
        block = list(QUERY_TYPES)
        rng.shuffle(block)
        for kind in block:
            if kind == "hourly_day_country":
                mix.append((kind, rng.choice(geo_parts)))
            elif kind == "top_paths":
                mix.append((kind, rng.choice(days)))
            else:
                mix.append((kind, ()))
    return mix[:n]


def _day(df, y, m, d):
    return df.filter((F.col("year") == y) & (F.col("month") == m) & (F.col("day") == d))


def run_spark(spark, cleaned: str, kind: str, params: tuple) -> list[tuple]:
    from advanced_elb_logs_etl_spark.operators.reports import (
        bot_origin_summary,
        hourly_aggregation,
    )

    df = spark.read.parquet(cleaned)
    if kind == "hourly_day_country":
        y, m, d, cc = params
        out = hourly_aggregation(_day(df, y, m, d).filter(F.col("countryCode") == cc))
    elif kind == "errors_by_day":
        out = (
            df.filter(F.col("status_code_type").isin("4xx_ClientError", "5xx_ServerError"))
            .groupBy("year", "month", "day", "status_code_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    elif kind == "bot_origin":
        out = bot_origin_summary(df)
    elif kind == "top_paths":
        out = (
            _day(df, *params).groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("path")).limit(10)
        )
    else:
        raise ValueError(f"unknown query type {kind!r}")
    return [tuple(r) for r in out.collect()]


def oracle_sql(cleaned: str, kind: str, params: tuple) -> str:
    t = (f"read_parquet('{cleaned}/**/*.parquet', hive_partitioning = true, hive_types = "
         "{'year': INTEGER, 'month': INTEGER, 'day': INTEGER, 'countryCode': VARCHAR})")
    if kind == "hourly_day_country":
        y, m, d, cc = params
        return f"""
            SELECT request_year, request_month, request_day, request_hour, countryName, city,
                   count(client_ip), count(DISTINCT client_ip),
                   avg(total_processing_time_ms), median(total_processing_time_ms),
                   coalesce(sum(sent_bytes), 0), coalesce(sum(received_bytes), 0),
                   count(*) FILTER (status_code_type = '2xx_Success'),
                   count(*) FILTER (status_code_type = '4xx_ClientError'),
                   count(*) FILTER (status_code_type = '5xx_ServerError')
            FROM {t}
            WHERE year = {y} AND month = {m} AND day = {d} AND countryCode = '{cc}'
              AND countryName IS NOT NULL AND city IS NOT NULL
            GROUP BY ALL"""
    if kind == "errors_by_day":
        return f"""
            SELECT year, month, day, status_code_type, count(*) FROM {t}
            WHERE status_code_type IN ('4xx_ClientError', '5xx_ServerError')
            GROUP BY ALL"""
    if kind == "bot_origin":
        return f"""
            SELECT countryName, isp, count(*) FROM {t}
            WHERE is_bot AND countryName IS NOT NULL AND isp IS NOT NULL
            GROUP BY ALL"""
    if kind == "top_paths":
        y, m, d = params
        return f"""
            SELECT path, count(*) AS n FROM {t}
            WHERE year = {y} AND month = {m} AND day = {d}
            GROUP BY path ORDER BY n DESC, path LIMIT 10"""
    raise ValueError(f"unknown query type {kind!r}")


class Oracle:
    """DuckDB answers, computed once per distinct ``(type, params)``."""

    def __init__(self, cleaned: str):
        import duckdb

        self.cleaned = cleaned
        self.con = duckdb.connect()
        self.memo: dict[tuple, list[tuple]] = {}

    def answer(self, kind: str, params: tuple) -> list[tuple]:
        key = (kind, params)
        if key not in self.memo:
            self.memo[key] = self.con.execute(oracle_sql(self.cleaned, kind, params)).fetchall()
        return self.memo[key]

    def close(self) -> None:
        self.con.close()
