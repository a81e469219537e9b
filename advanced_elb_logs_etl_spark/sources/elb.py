"""ALB access-log scan (S1-S4), batch and streaming.

Reference: extract_log_keys + transform_elb_logs
(/root/reference/advanced_elb_logs_etl.py:65-75,155-171) — a driver-side
boto3 loop pulling whole gzip objects into RAM. Spark-first replacement:
ONE ``spark.read.text`` over a glob; the DataSource handles listing (S1),
gzip decode (S2 — codec auto-detected from the .gz suffix, one task per file
since gzip is unsplittable, which matches the reference's per-file unit of
work), and per-file progress shows up in the Spark UI instead of log lines
(S3). Lineage (S4) is ``input_file_name()``.

Both readers share one definition (``_scan``): only ``*.gz`` objects are
opened (F5, reference :70), every line carries its ``log_source_file``, and
a corrupt/truncated gz object is skipped while the run continues with the
other files (reference :169-171). Where that skipping is switched on
differs, and must: the batch reader takes the per-reader option, but the
streaming file source ignores it (verified: a truncated gz kills the
query), so the stream sets the SESSION conf — corrupt files in other reads
of that session are skipped too.

At 100 TB the only knob that matters here is file granularity: gzip files
cap per-task parallelism, so the upstream ALB delivery cadence (5-minute
objects per AZ) controls task count — typically plenty. For pathological
single-huge-gz inputs, re-compress to a splittable codec upstream; the scan
code is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_confs

#: New gz objects one streaming micro-batch takes at most — bounds per-batch
#: work when a backlog of ALB drops lands at once.
STREAM_MAX_FILES_PER_TRIGGER = 16


def _scan(reader, paths: str | list[str], **options: str | int) -> DataFrame:
    return (
        reader.option("pathGlobFilter", "*.gz")
        .options(**options)
        .text(paths)
        .withColumn("log_source_file", F.input_file_name())
    )


def read_alb_lines(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Scan raw ALB log lines -> DataFrame[value: string, log_source_file: string].

    ``paths`` may be a directory, glob, or explicit file list (local, s3a://,
    hdfs:// — any Hadoop FS)."""
    if isinstance(paths, str):
        paths = [paths]
    return _scan(spark.read, paths, ignoreCorruptFiles="true")


def read_alb_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of ALB .gz drops in a directory (S1-S4, incremental):
    the same rows ``read_alb_lines`` gives, a micro-batch at a time."""
    apply_runtime_confs(spark)
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    return _scan(spark.readStream, path, maxFilesPerTrigger=STREAM_MAX_FILES_PER_TRIGGER)
