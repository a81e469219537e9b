"""The benchmark's own small-scale tests.

    python3 -m pytest perfbench -q

They check that the generator is deterministic per seed, that the metric
names the harness emits are those ``BENCHMARK.json`` declares, and that the
output checks pass on the program's real output and fail on a wrong one.
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

from perfbench import checks, gen, harness, queries, run

SMALL = gen.Spec(files=3, lines_per_file=300)


def _bench_json() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, SMALL)
    b = gen.generate(str(tmp_path / "b"), 7, SMALL)
    c = gen.generate(str(tmp_path / "c"), 8, SMALL)
    assert a["stats"] == b["stats"] and a["hot_ip"] == b["hot_ip"]
    for fa, fb in zip(a["files"], b["files"]):
        assert filecmp.cmp(fa["path"], fb["path"], shallow=False)
        assert fa["truth"] == fb["truth"]
    assert not filecmp.cmp(a["files"][0]["path"], c["files"][0]["path"], shallow=False)
    # A second call reads the cached manifest back instead of regenerating.
    assert gen.generate(str(tmp_path / "a"), 7, SMALL) == json.loads(json.dumps(a))


def test_generator_shape(tmp_path):
    m = gen.generate(str(tmp_path), 3, gen.Spec(files=4, lines_per_file=2000))
    s, t = m["stats"], gen.truth_of(m["files"])
    assert s["lines"] == 8000 and s["good_lines"] + s["malformed"] == s["lines"]
    assert 0 < s["malformed"] < 100
    assert 0.03 < s["hot_key_share"] < 0.05
    assert t["uncached"] > 0 and t["cached"] > t["uncached"]
    assert 0 < t["errors"] < t["good"] and 0 < t["cached_bots"] < t["bots"]
    assert s["distinct_ips"] < s["good_lines"] / 2  # repeat visitors, not singletons


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["paths"] == ["perfbench"]


def test_window_check_flags_wrong_counts():
    truth = {"2025-05-26T02:00:00|Germany|Berlin": 3, "2025-05-26T03:00:00|Japan|Tokyo": 1}
    good = [("2025-05-26T02:00:00", "Germany", "Berlin", 3),
            ("2025-05-26T03:00:00", "Japan", "Tokyo", 1)]
    assert checks.check_windows(good, truth) == set()
    assert checks.check_windows(good[:1], truth) == {"2025-05-26T03:00:00|Japan|Tokyo"}
    wrong = [good[0], ("2025-05-26T03:00:00", "Japan", "Tokyo", 2)]
    assert checks.check_windows(wrong, truth) == {"2025-05-26T03:00:00|Japan|Tokyo"}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    harness.configure_env(str(tmp_path_factory.mktemp("run")), None)
    sessions = harness.Sessions()
    yield sessions.build()
    sessions.close()


def test_checks_pass_on_pipeline_output_and_fail_on_a_wrong_sink(spark, tmp_path):
    from advanced_elb_logs_etl_spark.plans.pipeline import PipelineConfig, run_pipeline

    m = gen.generate(str(tmp_path / "in"), 5, SMALL)
    cfg = PipelineConfig(input_paths=[os.path.dirname(m["files"][0]["path"])],
                         output_dir=str(tmp_path / "out"), geo_cache_path=m["geo_cache"])
    paths = run_pipeline(spark, cfg)
    truth = gen.truth_of(m["files"])
    assert checks.check_pipeline_outputs(paths, truth) == []

    cleaned = paths["cleaned_logs"]
    oracle = queries.Oracle(cleaned)
    try:
        for kind, params in queries.query_mix(5, queries.partitions(cleaned), 12):
            assert checks.same_rows(queries.run_spark(spark, cleaned, kind, params),
                                    oracle.answer(kind, params)), (kind, params)
    finally:
        oracle.close()

    # A wrong sink: one error-report part file goes missing.
    os.remove(next(os.path.join(paths["error_report"], n)
                   for n in sorted(os.listdir(paths["error_report"])) if n.endswith(".csv")))
    problems = checks.check_pipeline_outputs(paths, truth)
    assert problems and "error-report rows" in problems[0]
