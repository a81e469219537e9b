"""Report aggregations and sinks (reference write_* functions, :326-393).

Aggregations are single hash-aggregates with map-side partials; sinks are
Spark's native writers. The reference's per-group pandas loops (one parquet
file per partition tuple, written sequentially :329-341) become a single
partitionBy write — same layout, produced in parallel.

Deliberate non-replication (SURVEY.md §4.3): the reference drops all-null
columns per output partition group (:341), giving every hive partition a
different schema. We write a uniform schema; parquet null pages compress to
nothing, and readers get one schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import time_to_eastern
from ..session import EASTERN_TZ

#: Error-report projection (P18, reference :368-372).
ERROR_REPORT_COLUMNS = [
    "time", "client_ip", "city", "countryName", "isp", "http_method",
    "full_url", "elb_status_code", "target_status_code_list", "user_agent",
    "ua_browser_family", "ua_os_family", "error_reason",
]


def stringify_time_eastern(ts: Column | str, tz: str = EASTERN_TZ) -> Column:
    """P17 (reference :340,:375,:384): strftime('%Y-%m-%d %H:%M:%S%z') of the
    Eastern-localized timestamp, e.g. '2025-05-26 19:55:02-0400'.

    Spark renders %z from the session timezone, so the UTC-offset suffix is
    built explicitly: wall-clock via from_utc_timestamp, offset = (wall
    reinterpreted as UTC) - instant."""
    c = F.col(ts) if isinstance(ts, str) else ts
    wall = F.from_utc_timestamp(c, tz)
    offset_s = (F.unix_micros(F.to_utc_timestamp(wall, "UTC")) - F.unix_micros(c)) / F.lit(
        1_000_000
    )
    offset_s = offset_s.cast("long")
    sign = F.when(offset_s < 0, "-").otherwise("+")
    hh = F.lpad((F.abs(offset_s) / 3600).cast("long").cast("string"), 2, "0")
    mm = F.lpad(((F.abs(offset_s) % 3600) / 60).cast("long").cast("string"), 2, "0")
    return F.concat(F.date_format(wall, "yyyy-MM-dd HH:mm:ss"), sign, hh, mm)


def geo_located(df: DataFrame) -> DataFrame:
    """Rows the hourly report groups: pandas groupby drops null group keys
    — replicated with an explicit filter (SURVEY.md §2.5)."""
    return df.filter(F.col("countryName").isNotNull() & F.col("city").isNotNull())


def hourly_metrics(exact: bool) -> list[Column]:
    """The nine hourly aggregates (A1-A6, reference :345-363), shared by the
    batch report and its streaming twin.

    exact=False swaps countDistinct/median for approx_count_distinct/
    approx_percentile — the 100 TB toggle: both exact forms force extra
    shuffle passes (distinct expansion; full sort per group for median),
    the approx forms are single-pass sketches (and the only forms a
    stream can maintain with bounded state).
    """
    uniq = (
        F.countDistinct("client_ip") if exact
        else F.approx_count_distinct("client_ip")
    ).alias("unique_client_ips_count")
    med = (
        F.median("total_processing_time_ms") if exact
        else F.percentile_approx("total_processing_time_ms", 0.5)
    ).alias("median_total_processing_time")
    return [
        F.count("client_ip").alias("request_count"),
        uniq,
        F.avg("total_processing_time_ms").alias("average_total_processing_time"),
        med,
        # pandas parity: groupby().sum() of an all-NaN group is 0, not null
        F.coalesce(F.sum("sent_bytes"), F.lit(0)).alias("sum_sent_bytes"),
        F.coalesce(F.sum("received_bytes"), F.lit(0)).alias("sum_received_bytes"),
        F.count_if(F.col("status_code_type") == "2xx_Success").alias("count_2xx"),
        F.count_if(F.col("status_code_type") == "4xx_ClientError").alias("count_4xx"),
        F.count_if(F.col("status_code_type") == "5xx_ServerError").alias("count_5xx"),
    ]


def hourly_aggregation(df: DataFrame, exact: bool = True) -> DataFrame:
    """A1-A6 battery (reference write_hourly_aggregation :345-363): 6
    Eastern date-part/geo group keys, the nine ``hourly_metrics``."""
    keys = ["request_year", "request_month", "request_day", "request_hour",
            "countryName", "city"]
    return geo_located(df).groupBy(*keys).agg(*hourly_metrics(exact))


def error_report(df: DataFrame) -> DataFrame:
    """F3 + P17 + P18 (reference write_error_report :365-378): 4xx/5xx rows,
    13 columns, stringified Eastern time."""
    return df.filter(
        F.col("status_code_type").isin("4xx_ClientError", "5xx_ServerError")
    ).select(
        stringify_time_eastern("time").alias("time"),
        *[c for c in ERROR_REPORT_COLUMNS if c != "time"],
    )


def bot_details(df: DataFrame) -> DataFrame:
    """F4 (reference :380-387): full-width bot rows, stringified time."""
    return df.filter(F.col("is_bot")).withColumn("time", stringify_time_eastern("time"))


def bot_origin_summary(df: DataFrame) -> DataFrame:
    """A7 (reference :389-391): group size per (countryName, isp); null
    group keys dropped (pandas parity), null VALUES still counted."""
    return (
        df.filter(F.col("is_bot"))
        .filter(F.col("countryName").isNotNull() & F.col("isp").isNotNull())
        .groupBy("countryName", "isp")
        .agg(F.count(F.lit(1)).alias("bot_request_count"))
    )


def write_cleaned_logs(df: DataFrame, path: str) -> None:
    """S7 (reference write_cleaned_logs :326-343): hive-partitioned parquet
    by year/month/day/countryCode with the reference's partition-value
    formatting — zero-padded month/day, null country -> 'UNK' — and
    stringified Eastern `time`.

    DELIBERATE divergence (ROUND1_NOTES §deliberate-divergences): in the
    reference, pandas groupby(dropna=True) over the partition columns
    silently DROPS rows with null countryCode, so its own 'UNK' branch
    (:331) is unreachable dead code. This sink keeps those rows under the
    UNK partition — losing rows because one dimension is null is a data
    loss bug, and UNK is clearly what the reference author intended.

    One `partitionBy` write instead of the reference's sequential per-group
    loop; at scale add .repartition(partition_cols) first if small-file
    explosion matters (AQE coalescing already bounds it per task)."""
    out = (
        df.withColumn("time", stringify_time_eastern("time"))
        .withColumn("year", F.col("request_year").cast("string"))
        .withColumn("month", F.format_string("%02d", F.col("request_month")))
        .withColumn("day", F.format_string("%02d", F.col("request_day")))
        .withColumn("countryCode", F.coalesce(F.col("countryCode"), F.lit("UNK")))
    )
    out.write.mode("overwrite").partitionBy("year", "month", "day", "countryCode").parquet(path)


def write_hourly_aggregation(df: DataFrame, path: str, exact: bool = True) -> None:
    """S8 (reference :360-361)."""
    hourly_aggregation(df, exact=exact).write.mode("overwrite").parquet(path)


def write_error_report(df: DataFrame, path: str) -> None:
    """S9 (reference :373-376): CSV with header."""
    error_report(df).write.mode("overwrite").option("header", True).csv(path)


def write_bot_traffic_reports(df: DataFrame, parquet_path: str, csv_path: str) -> None:
    """S8+S9 (reference :380-391): details parquet + origin-summary CSV."""
    bot_details(df).write.mode("overwrite").parquet(parquet_path)
    bot_origin_summary(df).write.mode("overwrite").option("header", True).csv(csv_path)


def sample_json(df: DataFrame, n: int = 5) -> list[str]:
    """S10 (reference :417-418): first n rows as JSON lines."""
    return df.limit(n).toJSON().collect()


def _canon_file_uri(col: Column) -> Column:
    """Scheme- and slash-count-insensitive canonical form of a file URI,
    applied to BOTH sides of the compaction manifest⨝scan join: strip an
    optional '<scheme>:' plus ALL leading slashes, keeping the authority
    (bucket) and path.  'file:/tmp/x', 'file:///tmp/x' and '/tmp/x' all
    collapse to 'tmp/x'; 's3a://bucket/k' collapses to 'bucket/k' — the
    bucket survives, unlike java.net.URI.getPath() which drops it
    (the ADVICE r6 empty-join bug)."""
    return F.regexp_replace(col, r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?/*", "")


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    bin_packed: bool = False,
) -> int:
    """Small-file compaction — the maintenance pass every long-running
    100 TB ingest needs: streaming/hourly sinks accrete thousands of tiny
    part files, and scan cost becomes file-open-bound. Rewrites `src` to
    `dst` and returns the output file count.

    Sizing comes from the actual on-disk bytes (not row counts), so heavily
    compressed columns don't over-coalesce — measured through the Hadoop
    FileSystem API, so s3a://-style remote paths size correctly (an
    os.walk would silently report 0 there and coalesce everything into one
    task).

    Two modes:
    - default: ceil(total/target) output files via round-robin
      repartition — compaction has no key, round-robin gives uniform
      sizes, but every row moves through the shuffle;
    - ``bin_packed=True``: drives operators/layout.compaction_plan over
      the real file manifest — whole input files are assigned to
      size-packed output bins (big files alone, small files packed), the
      scan is joined to the broadcast plan on ``_metadata.file_path`` and
      hash-repartitioned on the bin id (a bin never splits across tasks,
      so each bin becomes EXACTLY one output file; range partitioning
      would sample-merge adjacent small bins). Rows from one input file
      stay together (their row-group clustering survives compaction — the
      reason OPTIMIZE-style compaction bin-packs instead of
      re-shuffling). The write stages as ``bin=K`` directories and the
      driver renames each bin's single file into the flat layout — a
      file-count-scale metadata pass through the Hadoop FS API.

    Writing to a NEW location then swapping is deliberate — overwriting a
    dataset while reading it is undefined; on a real lake the swap is the
    catalog/table-format's job (RENAME or REPLACE TABLE), documented
    rather than hidden here."""
    import math

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    manifest: list[tuple[str, int]] = []
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            total += st.getLen()
            # FULL URI string (scheme + authority + path): on object
            # stores toUri().getPath() drops the scheme AND the bucket,
            # which silently empty-joined against the scan (ADVICE r6)
            manifest.append((st.getPath().toString(), st.getLen()))
    if not bin_packed:
        n = max(1, math.ceil(total / target_file_bytes))
        df = spark.read.parquet(src)
        df.repartition(n).write.mode("overwrite").parquet(dst)
        return n
    from .layout import compaction_plan

    mdf = spark.createDataFrame(manifest, "file_name string, bytes long")
    plan = compaction_plan(mdf, target_bytes=target_file_bytes).select(
        _canon_file_uri(F.col("file_name")).alias("file_name"), "bin"
    )
    # bin ids are sparse (a file larger than target SPANS several bin
    # indices, and the next file starts past them) — the output file
    # count is the number of OCCUPIED bins; part files keep the original
    # bin id in their name, so gaps in the numbering are expected
    n = plan.select("bin").distinct().count()
    df = spark.read.parquet(src).withColumn(
        # Hadoop Path.toString() and _metadata.file_path may render the
        # SAME file with different scheme/slash styles (file:/x vs
        # file:///x); both sides go through the one canonicalizer so the
        # equi-join can't silently miss (see _canon_file_uri)
        "_fpath",
        _canon_file_uri(F.col("_metadata.file_path")),
    )
    # guard the join before the heavyweight write: every manifest file
    # must match exactly one scanned file, else the staged output would
    # silently drop rows (the s3a empty-output failure mode, ADVICE r6)
    matched = (
        df.select("_fpath")
        .distinct()
        .join(F.broadcast(plan), F.col("_fpath") == plan.file_name, "inner")
        .count()
    )
    if matched != len(manifest):
        raise RuntimeError(
            f"compact_parquet: manifest/scan path mismatch — {len(manifest)} "
            f"manifest files but {matched} matched the scan's "
            "_metadata.file_path; refusing to write a partial dataset"
        )
    joined = df.join(F.broadcast(plan), df._fpath == plan.file_name, "inner").drop(
        "file_name"
    )
    staging = dst.rstrip("/") + "__binstage"
    (
        joined.repartition(n, F.col("bin"))
        # keep one input file's rows contiguous inside its bin
        .sortWithinPartitions("bin", "_fpath")
        .drop("_fpath")
        .write.mode("overwrite")
        .partitionBy("bin")
        .parquet(staging)
    )
    # flatten: each bin directory holds exactly one part file (one task
    # owned the whole bin) — rename it to dst/part-<bin>.parquet
    dpath = jvm.org.apache.hadoop.fs.Path(dst)
    dfs = dpath.getFileSystem(jsc.hadoopConfiguration())
    if dfs.exists(dpath):
        dfs.delete(dpath, True)
    dfs.mkdirs(dpath)
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    for status in dfs.listStatus(spath):
        name = status.getPath().getName()
        if not name.startswith("bin="):
            continue
        b = int(name.split("=", 1)[1])
        for fstat in dfs.listStatus(status.getPath()):
            fname = fstat.getPath().getName()
            if fname.endswith(".parquet"):
                dfs.rename(
                    fstat.getPath(),
                    jvm.org.apache.hadoop.fs.Path(dpath, f"part-{b:05d}.parquet"),
                )
    dfs.delete(spath, True)
    return n
