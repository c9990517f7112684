"""The benchmark's own tests. They start Spark and take a few minutes:

    python3 -m pytest perfbench/tests -q

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_short_run_prints_every_named_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_without_the_program_the_command_fails(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "log_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_generators_are_seeded(tmp_path):
    import gen

    a, b = gen.write_tables(str(tmp_path / "a"), 5), gen.write_tables(str(tmp_path / "b"), 5)
    assert a == b
    for t in a:
        with open(tmp_path / "a" / f"{t}.parquet", "rb") as fa, \
                open(tmp_path / "b" / f"{t}.parquet", "rb") as fb:
            assert fa.read() == fb.read(), t
    assert gen.log_lines(5, 3, 100) == gen.log_lines(5, 3, 100)
    assert gen.log_lines(5, 3, 100) != gen.log_lines(6, 3, 100)
    lines, good, bad = gen.log_lines(5, 3, 100)
    assert (good, bad) == (96, 4)
    assert gen.plan_order(["a", "b", "c", "d"], 5, 1) == gen.plan_order(["a", "b", "c", "d"], 5, 1)


# ---------------------------------------------------------------------------
# In-process checks, on one isolated Spark session
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    conf = run._isolate(work)
    from venus_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2, extra_conf=conf)
    yield s
    run._stop(s)


def test_tampered_expected_result_is_a_failure(spark, tmp_path):
    import workloads
    from spans import Tracer

    wl = workloads.LogIngest(spark, Tracer(spark, False), 4, str(tmp_path))
    wl.backlog_files = 2
    wl.drain(wl.land())
    assert wl.check() == (1, 0)
    sink = next(iter(wl.expected))
    good, bad = wl.expected[sink]
    wl.expected[sink] = (good + 1, bad)  # tamper with the expected result
    assert wl.check() == (1, 1)


def test_injected_count_raises_build_jobs(spark, tmp_path):
    import venus_spark.prepared as prepared
    import gen
    import workloads
    from spans import Tracer
    from venus_spark.plans import all_plans

    sf = str(tmp_path / "sf")
    gen.write_tables(sf, 1)
    prepared.PREPARED_ROOT = str(tmp_path / "prepared")
    wl = workloads.Workload(spark, Tracer(spark, True), 1, str(tmp_path))
    wl.sf = sf
    plans = all_plans()
    name = "events_scan_filter"
    wl.run_plan(plans, name)  # compile once before counting
    base, _ = wl.run_plan(plans, name)

    class CountingPlan:
        @staticmethod
        def fn(spark_, sf_):
            df = plans[name].fn(spark_, sf_)
            df.count()  # the injected extra action
            return df

    extra, _ = wl.run_plan({name: CountingPlan}, name)
    assert extra["jobs"] > base["jobs"]
