"""Self-tests of the benchmark at tiny size: python3 -m pytest perfbench -q

They check the benchmark, not the engine: every named metric is printed
with its unit, the output checker rejects an injected fault, and inputs are
a function of the seed alone.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY = 0.02


@pytest.fixture(scope="module")
def work():
    path = os.path.join(ROOT, ".perfbench_work", f"tests-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(path))
    except OSError:
        pass


@pytest.fixture(scope="module")
def spark(work):
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    from vt_grid_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    yield s
    s.stop()


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tiny_run(spark, work, name, seed, trace):
    wdir = os.path.join(work, f"{name}-{seed}-{trace}")
    result, details = run.run_workload(spark, name, seed, 0.1, trace, wdir, 2, scale=TINY)
    if trace:
        result["metrics"]["spark.jvm_peak_rss_mb"] = 1.0  # measured once the JVM has ended
    return run.with_units(result), details


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_printed_with_its_unit(spark, work, name, trace):
    bench = _benchmark_json()
    result, details = _tiny_run(spark, work, name, 1, trace)
    assert result["correct"], details["problems"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = bench["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in expected)
    for m in expected:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))


def test_checker_rejects_a_doubled_cnt(spark, work):
    wl = run.BuildHot(spark, os.path.join(work, "fault"), 3, TINY)
    wl.setup()
    assert wl.check() == []
    level = os.path.join(wl.out, "zoom=9")
    name = sorted(f for f in os.listdir(level) if f.endswith(".parquet"))[0]
    path = os.path.join(level, name)
    tbl = pq.read_table(path)
    i = tbl.schema.get_field_index("cnt")
    cnt = tbl.column(i).to_pylist()
    cnt[0] *= 2
    pq.write_table(tbl.set_column(i, tbl.schema.field(i),
                                  pa.array(cnt, tbl.schema.field(i).type)), path)
    problems = wl.check()
    assert any("z9" in p for p in problems), problems


def test_same_seed_same_level_digests(spark, work):
    digests = []
    for i in range(2):
        wl = run.BuildHot(spark, os.path.join(work, f"same{i}"), 5, TINY)
        wl.setup()
        digests.append(checks.level_digests(wl.out, run._zooms(wl.plan)))
    assert digests[0] == digests[1]


def test_seed_decides_the_inputs():
    shape = run.BuildWide.SHAPE
    small = gen.PageShape(2_000, shape.hot_frac, shape.hot_box, grid=shape.grid)
    a, b, c = (gen.make_pages(small, s).table for s in (7, 7, 8))
    assert a.equals(b)
    assert not a.equals(c)


def test_fold_check_catches_a_double_count(spark, work):
    from vt_grid_spark.operators.pyramid import incremental_update

    wl = run.FoldDelta(spark, os.path.join(work, "fold"), 4, TINY)
    wl.setup()
    assert wl.check() == [] and wl.final_check() == []
    # fold the last delta a second time without adding it to the ground truth
    incremental_update(run._points_df(spark, wl.delta_dirs[-1]), wl.plan, wl.io)
    assert wl.check() and wl.final_check()
