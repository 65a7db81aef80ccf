"""Smoke test of the benchmark itself, at the tiny generator size and
on the sf0.001 tables.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import jhu_feed  # noqa: E402
import proc  # noqa: E402
import run  # noqa: E402

FIXTURES = os.path.join(ROOT, "tests", "fixtures")


@pytest.fixture(scope="module")
def engine():
    dirs = run._work_dirs(os.getpid())
    spark, _, _ = run.start_engine(dirs)
    yield spark, dirs
    run.stop_engine(spark)
    shutil.rmtree(dirs["base"], ignore_errors=True)


def _rows(path: str) -> list[dict]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def test_feed_keeps_reference_quirks(tmp_path):
    paths = jhu_feed.write_feed(str(tmp_path), seed=3, n_locations=60, n_dates=6)
    confirmed, deaths = _rows(paths["confirmed"]), _rows(paths["deaths"])
    recovered, lookup = _rows(paths["recovered"]), _rows(paths["lookup"])
    assert any(r["Province/State"] == "" for r in confirmed)
    assert any('"' in r["Country/Region"] or '"' in r["Province/State"] for r in confirmed)
    assert len(deaths) < len(confirmed)
    assert list(recovered[0])[-1] != list(confirmed[0])[-1]  # last date column missing
    countries = [r["Country_Region"] for r in lookup]
    assert len(set(countries)) < len(countries)  # decoy rows share a key
    assert {r["Country/Region"] for r in confirmed} - set(countries)  # lookup misses
    assert jhu_feed.write_feed(str(tmp_path / "again"), 3, 60, 6) and all(
        open(paths[k]).read() == open(str(tmp_path / "again" / os.path.basename(paths[k]))).read()
        for k in paths
    )


def test_checker_reproduces_repository_goldens():
    paths = {
        c: os.path.join(FIXTURES, f"fixture_timeseries_{c}.csv") for c in jhu_feed.CATEGORIES
    }
    paths["lookup"] = os.path.join(FIXTURES, "fixture_lookup.csv")

    def golden(name):
        with open(os.path.join(FIXTURES, name)) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    assert jhu_feed.same_records(
        jhu_feed.category_records(paths)["confirmed"], golden("golden_parser_confirmed.jsonl")
    )
    assert jhu_feed.same_records(
        jhu_feed.combined_records(paths), golden("golden_parser2_combined.jsonl")
    )


def test_engine_lakes_match_the_checker(engine, tmp_path):
    from jhu_data_parser_spark import etl

    spark, _ = engine
    feed = jhu_feed.write_feed(str(tmp_path / "feed"), seed=5, n_locations=60, n_dates=6)
    part, flat = str(tmp_path / "part"), str(tmp_path / "flat")
    etl.category_pipeline(spark, {c: feed[c] for c in jhu_feed.CATEGORIES}, feed["lookup"], part)
    etl.combined_pipeline(spark, feed["confirmed"], feed["deaths"], feed["recovered"], feed["lookup"], flat)
    expected = jhu_feed.category_records(feed)
    for c in jhu_feed.CATEGORIES:
        assert jhu_feed.same_records(jhu_feed.read_lake(os.path.join(part, f"type={c}")), expected[c])
    assert jhu_feed.same_records(jhu_feed.read_lake(flat), jhu_feed.combined_records(feed))


def test_tracer_counts_one_stream_operation(engine):
    from jhu_data_parser_spark import plans
    from tracer import Tracer

    spark, dirs = engine
    tdir = os.path.join(dirs["stage"], "sf0.001")
    shutil.copytree(checks.SMOKE_TABLES, tdir)
    tracer = Tracer(spark, dirs["tmp"])
    tracer.attach()
    try:
        before = tracer.begin_op("op-1", "stream_availablenow_daily")
        with tracer.span("op"):
            df = plans.QUERIES["stream_availablenow_daily"](spark, tdir)
            df.write.format("noop").mode("overwrite").save()
        counts = tracer.end_op(before, df)
    finally:
        tracer.detach()
    assert counts["spark.jobs"] > 0 and counts["spark.tasks"] > 0
    assert counts["stream.batches"] > 0 and counts["stream.trigger_ms"] > 0
    assert counts["sink.files"] == 0
    assert [s["op_id"] for s in tracer.spans] == ["op-1"]


def test_tail_has_ten_samples_beyond():
    value, pct, beyond = run._tail([float(i) for i in range(40)])
    assert (value, pct, beyond) == (29.0, 75.0, 10)


def test_tree_cpu_counts_child_processes():
    before = proc.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert proc.tree_cpu_s(os.getpid()) - before >= 0.4


def test_run_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    t0 = time.time()
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_lake", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert res.returncode != 0 and res.stdout.strip() == "" and time.time() - t0 < 180
