"""The ALB scan (sources/elb.py): explicit file lists, and batch/stream
parity of the one shared definition — the ``*.gz`` filter, the
``log_source_file`` lineage column and corrupt-file skipping."""

from __future__ import annotations

import gzip
from collections import Counter
from datetime import datetime, timedelta

import pytest

from advanced_elb_logs_etl_spark.sources.elb import read_alb_lines, read_alb_stream
from elb_fixtures import make_line, write_gz


def _lines(i: int, n: int = 3) -> list[str]:
    base = datetime(2025, 5, 26, 12, 0, 0) + timedelta(hours=i)
    return [make_line(base + timedelta(seconds=s), ip=f"10.0.{i}.{s}") for s in range(n)]


@pytest.mark.parametrize("n_files", [2, 9])
def test_read_alb_lines_takes_a_file_list(spark, tmp_path, n_files):
    files = [write_gz(str(tmp_path / f"f{i}.gz"), _lines(i)) for i in range(n_files)]
    rows = read_alb_lines(spark, files).collect()
    assert sorted(r.value for r in rows) == sorted(
        line for i in range(n_files) for line in _lines(i)
    )
    assert {r.log_source_file.rsplit("/", 1)[1] for r in rows} == {
        f"f{i}.gz" for i in range(n_files)
    }


def test_batch_and_stream_scan_agree(spark, tmp_path):
    d = tmp_path / "drops"
    d.mkdir()
    write_gz(str(d / "a.gz"), _lines(0))
    write_gz(str(d / "b.gz"), _lines(1, n=5))
    (d / "notes.txt").write_text("\n".join(_lines(2)) + "\n")
    bad = d / "bad.gz"
    with gzip.open(bad, "wt") as fh:
        fh.write("\n".join(_lines(3, n=50)) + "\n")
    data = bad.read_bytes()
    bad.write_bytes(data[: len(data) // 2])  # truncated mid-stream

    batch = Counter(
        (r.value, r.log_source_file) for r in read_alb_lines(spark, str(d)).collect()
    )
    q = (
        read_alb_stream(spark, str(d))
        .writeStream.format("memory").queryName("scan_parity").outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        stream = Counter(
            (r.value, r.log_source_file)
            for r in spark.sql("SELECT * FROM scan_parity").collect()
        )
    finally:
        q.stop()

    assert stream == batch
    # every line of the good files and nothing of the .txt (the truncated
    # gz may yield what decoded before the corruption, on both paths alike)
    good = Counter(
        (line, name) for name, lines in (("a.gz", _lines(0)), ("b.gz", _lines(1, n=5)))
        for line in lines
    )
    assert Counter(
        (value, path.rsplit("/", 1)[1]) for value, path in batch.elements()
        if not path.endswith("/bad.gz")
    ) == good
