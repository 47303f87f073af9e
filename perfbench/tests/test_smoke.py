"""Toy-size smoke test of the benchmark.

    python -m pytest perfbench/tests -q

Runs every workload end to end through the command line (tracing off and
on), checks the result line against BENCHMARK.json, and shows that each
output check fails on a planted bad output.  Takes a few minutes: every
command-line run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "toy",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_and_reports_every_metric(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, lines[-2]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"]), (m["name"], got)
        if not trace:
            assert got["value"] > 0, m["name"]
    detail = json.loads(lines[-2])["perfbench"]
    assert detail["metrics"]["failed_frac"] == 0.0
    assert {"cpu_busy_frac", "cpu_steal_frac", "nproc", "cores"} <= set(detail)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = run_bench(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# -- each check fails on a planted bad output ----------------------------------


@pytest.fixture(scope="module")
def spark():
    from frontier_engine.session import get_spark

    s = get_spark("local[2]", app_name="perfbench-smoke", extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def pages_frame(spark, rows):
    return spark.createDataFrame(rows, "url_key string, host string, round int")


def test_politeness_check_catches_an_over_quota_row(spark):
    # 60 s rounds at a 3 s delay: 20 fetches per host per round
    ok = [(f"k{i}", "a.example", 1) for i in range(20)] + [("b0", "b.example", 2)]
    assert checks.check_politeness(pages_frame(spark, ok), 60.0, 3.0) == []
    bad = ok + [("k20", "a.example", 1)]
    assert len(checks.check_politeness(pages_frame(spark, bad), 60.0, 3.0)) == 1


def test_seen_check_catches_duplicates_and_missing_keys(spark):
    seen = spark.createDataFrame([("k1",), ("k2",)], "url_key string")
    pages = pages_frame(spark, [("k1", "a", 1), ("k2", "a", 1)])
    assert checks.check_seen(seen, pages) == []
    dup = seen.unionByName(spark.createDataFrame([("k1",)], "url_key string"))
    assert checks.check_seen(dup, pages) == ["seen: key k1 appears 2 times"]
    extra = pages.unionByName(pages_frame(spark, [("k3", "a", 1)]))
    assert checks.check_seen(seen, extra) == ["seen: fetched key k3 missing from seen"]


def test_refetch_check_catches_a_history_key(spark):
    history = spark.createDataFrame([("h1",), ("h2",)], "url_key string")
    pages = pages_frame(spark, [("k1", "a", 1)])
    assert checks.check_no_refetch(pages, history) == []
    bad = pages.unionByName(pages_frame(spark, [("h2", "a", 1)]))
    assert checks.check_no_refetch(bad, history) == ["resume: history key h2 fetched again"]


def test_text_check_catches_a_changed_byte(spark):
    from frontier_engine import synth

    rows = [(f"k{i}", r["html"], r["text"]) for i, r in enumerate(synth.gen_pages(4))]
    schema = "url_key string, html binary, text string"
    assert checks.check_text(spark.createDataFrame(rows, schema), sample=4) == []
    rows[2] = (rows[2][0], rows[2][1], rows[2][2] + " ")
    assert checks.check_text(spark.createDataFrame(rows, schema), sample=4) == [
        "text: k2 differs from refsem.extract_text"
    ]


def test_digest_check_catches_a_changed_row(spark):
    df = spark.createDataFrame([(1, 0.5, [1, 2]), (2, 1.25, [3])], "a long, b double, c array<long>")
    # same rows in another order and column order, as DuckDB would return them
    want = checks.rows_digest(["c", "a", "b"], [([3], 2, 1.25), ([1, 2], 1, 0.5)])
    assert checks.check_digest("q", df, want) == []
    other = checks.rows_digest(["c", "a", "b"], [([3], 2, 1.25), ([1, 2], 1, 0.75)])
    assert len(checks.check_digest("q", df, other)) == 1
