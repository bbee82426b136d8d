"""Tests of the benchmark itself (not of the engine).

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import subprocess
import sys
import time

import hashlib

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import pets  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TINY_ROSTER = ("count_distinct_by_group", "histogram_value_buckets")


@pytest.fixture(scope="module")
def spark():
    from certified_dogs_and_cats_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


def run_workload(spark, tmp_path, name, trace, **sizes):
    ctx = workloads.Context(spark, 4, str(tmp_path), trace,
                            time.perf_counter())
    workloads.WORKLOADS[name](ctx, 3, 0, **sizes)
    return ctx, workloads.report(ctx)


def test_drop_generator_is_deterministic_per_seed():
    def days(seed):
        return list(itertools.islice(pets.generate(seed, 400), 3))

    a, b, c = days(5), days(5), days(6)
    assert [d.rows for d in a] == [d.rows for d in b]
    assert [d.rows for d in a] != [d.rows for d in c]
    seen = set()
    for day in a:
        ids = [r[0] for r in day.rows]
        resent = sum(1 for i in ids if i in seen)
        assert resent == len(ids) - day.new_rows
        assert resent == (0 if not seen else int(400 * pets.RESEND_SHARE))
        seen.update(ids)
    assert sum(a[-1].totals.values()) == sum(d.new_rows for d in a)


def test_expected_totals_rank_and_share():
    day = next(pets.generate(1, 2000))
    rows = pets.expected_totals_by_year_type(day)
    assert {r[0] for r in rows} == set(pets.YEARS)
    for year in pets.YEARS:
        group = [r for r in rows if r[0] == year]
        assert sorted(r[4] for r in group) == [1, 2]
        assert abs(sum(r[3] for r in group) - 100.0) < 1e-9


def test_query_tables_match_their_checksums():
    data = workloads.QUERY_DATA
    with open(os.path.join(data, "SHA256SUMS")) as f:
        sums = dict(reversed(line.split()) for line in f)
    assert sorted(sums) == sorted(
        f for f in os.listdir(data) if f.endswith(".parquet"))
    for name, digest in sums.items():
        with open(os.path.join(data, name), "rb") as f:
            assert hashlib.sha256(f.read()).hexdigest() == digest, name


def test_metric_names_and_declaration():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(workloads.END_TO_END)
    assert layer == list(workloads.PER_LAYER)
    names = e2e + layer + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]
             + spec["per_layer"]}
    assert units == {n: workloads.unit_of(n) for n in units}
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        workloads.WORKLOADS)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct = workloads.tail(xs, len(xs))
    assert pct == 75 and sum(1 for x in xs if x > value) == 10
    # More samples than the basis keep the percentile, not the count.
    value, pct = workloads.tail(xs + xs, len(xs))
    assert pct == 75 and sum(1 for x in xs + xs if x > value) == 20
    assert workloads.tail([3.0, 1.0, 2.0], 1) == (3.0, 100)


@pytest.mark.parametrize("trace", [False, True])
def test_query_floor_smoke(spark, tmp_path, trace):
    ctx, metrics = run_workload(spark, tmp_path, "query_floor", trace,
                                roster=TINY_ROSTER)
    assert ctx.failed == 0 and ctx.attempted == 8
    want = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert list(metrics) == list(want)
    if not trace:
        assert all(v > 0 for v in metrics.values()), metrics
    else:
        assert metrics["spark.jobs"] > 0
        assert metrics["session.configure_calls"] > 0


@pytest.mark.parametrize("trace", [False, True])
def test_daily_pipeline_smoke(spark, tmp_path, trace):
    ctx, metrics = run_workload(spark, tmp_path, "daily_pipeline", trace,
                                rows_per_day=300)
    assert ctx.failed == 0, ctx.failed
    assert len(ctx.measured) == workloads.PIPELINE_DAYS
    # Writing the drops and checking the export stay out of setup_s.
    assert ctx.harness_s > 0
    want = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert list(metrics) == list(want)
    if not trace:
        assert all(v > 0 for v in metrics.values()), metrics
    else:
        assert metrics["bronze.rows"] == 300 - int(300 * pets.RESEND_SHARE)
        assert metrics["catalog.appends"] > 0
        assert metrics["catalog.storage_ratio"] > 0
        # Traced runs also compact and re-run an already-loaded day.
        assert metrics["catalog.compact_s"] > 0
        assert metrics["runner.rerun_s"] > 0


def test_injected_failing_op_raises_error_rate(spark, tmp_path):
    ctx, metrics = run_workload(
        spark, tmp_path, "query_floor", True,
        roster=TINY_ROSTER[:1] + ("no_such_query",))
    assert ctx.failed == 4 and ctx.attempted == 8
    assert metrics["ops.error_rate"] == 0.5


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_floor",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
