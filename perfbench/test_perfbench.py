"""Self-test of the benchmark harness on tiny inputs: sf0.001-sized
tables, a ten-fold copy of them and a small stitch grid.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload (also ``llm-x10``, which BENCHMARK.json does not list but
run.py accepts) runs once untraced and once traced in a child process
(a Spark JVM of its own, so the traced run's event-log settings apply);
the tests check that every metric BENCHMARK.json names is printed with
its unit, that an injected wrong expected result is counted as failed,
and that the command fails without a result outside a full checkout.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

TINY_SF = 0.001
TINY_SQL_KEYS = ["q_table_checksum", "q_topk_orders", "q_pagerank"]
TINY_LLM_KEYS = ["q_dedup_exact", "q_mix_curriculum"]
TINY_STITCH = dict(
    big=((2, 2, 2), (8, 8, 8), (2, 2, 2)),
    fine=((3, 3, 2), (6, 6, 6), (2, 2, 2)),
    box=((2, 2, 2), (8, 8, 8), (2, 2, 2)),
    affine=((2, 2, 2), (6, 6, 6), (2, 2, 2)),
)


# ------------------------------------------- child-process entry point


def _tiny_dirs(data: str) -> tuple[str, str, str]:
    return (os.path.join(data, "sf"), os.path.join(data, "x10-base"),
            os.path.join(data, "x10"))


def tiny_prepare(name: str) -> float:
    import fixture
    import workloads as W

    sf, base, x10 = _tiny_dirs(os.environ["PERFBENCH_TEST_DATA"])
    if name == "sql-sf01":
        fixture.ensure_tables(sf, TINY_SF, W.FIXTURE_SEED)
    elif name == "llm-x10":
        run.ensure_x10(base, x10, TINY_SF)
    return 0.0


def tiny_workload(name: str, seed: int):
    import workloads as W

    sf, _, x10 = _tiny_dirs(os.environ["PERFBENCH_TEST_DATA"])
    if name == "stitch-volume":
        wl = W.stitch_workload(seed, **TINY_STITCH)
    elif name == "sql-sf01":
        wl = W.sql_workload(sf, TINY_SQL_KEYS)
    else:
        wl = W.llm_workload(x10, TINY_LLM_KEYS)
    if os.environ.get("PERFBENCH_TEST_INJECT"):
        # a wrong expected result for the first op
        op = wl.ops[0]
        op.verify = (W.oracle_verifier(sf, op.name, "SELECT 1 AS wrong")
                     if op.layer == "queries" else (lambda df: f"{op.name}: injected"))
    return wl


def _child(argv) -> int:
    return run.main(argv, make_workload=tiny_workload, prepare=tiny_prepare)


# ---------------------------------------------------------------- tests


def _run_tiny(tmp_data, workload, trace, inject=False):
    env = dict(os.environ, PERFBENCH_TEST_DATA=str(tmp_data))
    if inject:
        env["PERFBENCH_TEST_INJECT"] = "1"
    code = ("import sys; sys.path[:0] = [%r, %r]; import test_perfbench as t; "
            "sys.exit(t._child(sys.argv[1:]))" % (HERE, ROOT))
    p = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench_data")


def _check_names(result, declared):
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_prints_every_metric_with_its_unit(tiny_data, workload):
    plain = _run_tiny(tiny_data, workload, 0)
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    _check_names(plain, BENCH["end_to_end"])
    traced = _run_tiny(tiny_data, workload, 1)
    assert traced["correct"]
    _check_names(traced, BENCH["per_layer"])


@pytest.mark.parametrize("workload", ["sql-sf01", "stitch-volume"])
def test_injected_wrong_result_counts_as_failed(tiny_data, workload):
    res = _run_tiny(tiny_data, workload, 0, inject=True)
    assert not res["correct"]
    assert res["failed"] >= 1
    assert res["metrics"]["verified_ratio"]["value"] == pytest.approx(
        1 - res["failed"] / res["attempted"])
    assert res["metrics"]["verified_ratio"]["value"] < 1


def test_fails_without_a_result_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(BENCH["command"] + ["--workload", "sql-sf01", "--seed", "1",
                                           "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ------------------------------------------------------------ unit tests


def test_tail_percentile_leaves_ten_ops_above():
    lat = [float(i) for i in range(100)]
    value, pct = run.tail_percentile(lat)
    assert sum(x > value for x in lat) == 10 and pct == 90.0
    assert run.tail_percentile(lat[:15]) == (7.0, 50.0)


def test_count_exchanges():
    plan = ("AdaptiveSparkPlan isFinalPlan=false\n"
            "+- HashAggregate(keys=[k])\n"
            "   +- Exchange hashpartitioning(k, 256)\n"
            "      +- BroadcastHashJoin [k], [k]\n"
            "         :- Scan parquet\n"
            "         +- BroadcastExchange HashedRelationBroadcastMode\n"
            "            +- ReusedExchange [k]\n")
    assert run.count_exchanges(plan) == 2


def test_fragment_bytes_matches_brute_force():
    import numpy as np

    import workloads as W

    grid, bs, o = (2, 3, 1), (4, 5, 6), (1, 2, 1)
    # each voxel of the stitched domain receives one fragment value from
    # every tile whose halo'd extent covers it
    cover = np.zeros(tuple(g * b for g, b in zip(grid, bs)), dtype=int)
    for b in np.ndindex(*grid):
        sl = tuple(slice(max(0, b[a] * bs[a] - o[a]),
                         min(grid[a] * bs[a], (b[a] + 1) * bs[a] + o[a]))
                   for a in range(3))
        cover[sl] += 1
    assert W.fragment_bytes(grid, bs, o) == cover.sum() * 8
    assert W.fragment_bytes(grid, bs, o, ncomp=3) == cover.sum() * 24


def test_parse_event_log_groups_task_metrics(tmp_path):
    import probe

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op0-exec"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [
             {"Name": "time to run Python workers", "Update": "1500"},
             {"Name": "data sent to Python workers", "Update": str(2 * 1024 * 1024)}]},
         "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 10 ** 9,
                          "JVM GC Time": 100,
                          "Shuffle Read Metrics": {"Local Bytes Read": 1024 * 1024,
                                                   "Fetch Wait Time": 5},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Completion Time": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    g = probe.parse_event_log(str(tmp_path))
    assert list(g) == ["op0-exec"]
    m = g["op0-exec"]
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 1, 1)
    assert m["spark.executor_run_s"] == 2.0 and m["spark.executor_cpu_s"] == 1.0
    assert m["python.run_s"] == 1.5 and m["python.sent_mb"] == 2.0
    assert m["spark.shuffle_read_mb"] == 1.0 and m["spark.fetch_wait_s"] == 0.005


def test_per_layer_counts_tasks_of_every_job_group():
    from types import SimpleNamespace as NS

    import workloads as W

    op = W.Op("q", None, None, "queries")
    runner = NS(name="sql-sf01", setup_phases={}, workload=NS(ops=[op]),
                canary={"start": [1.0], "end": [1.0]})
    recs = [{"op": 0, "name": "q", "latency_s": 3.0, "ok": True,
             "build_s": 1.0, "plan_s": 0.5, "exec_s": 1.5, "exchanges": 2}]
    groups = {"op0-build": {"spark.jobs": 3, "spark.executor_run_s": 2.0},
              "op0-exec": {"spark.jobs": 1, "spark.executor_run_s": 4.0}}
    m = run.per_layer(runner, {"records": recs, "passes": 1, "region_s": 3.0},
                      NS(peak_jvm=0, peak_workers=0), groups)
    assert m["queries.build_jobs"][0] == 3 and m["spark.jobs"][0] == 4
    assert m["spark.executor_run_s"][0] == 6.0
    cores = run.task_slots("sql-sf01")
    assert m["spark.idle_core_s"][0] == pytest.approx(cores * 2.5 - 6.0)


def test_stale_fixture_is_rebuilt(tmp_path):
    import fixture

    out = str(tmp_path / "sf")
    fixture.ensure_tables(out, TINY_SF, 1)
    first = open(out + ".stamp").read()
    fixture.ensure_tables(out, TINY_SF, 2)   # another seed: stale
    assert open(out + ".stamp").read() != first
    mtime = os.path.getmtime(os.path.join(out, "orders.parquet"))
    fixture.ensure_tables(out, TINY_SF, 2)   # current: reused
    assert os.path.getmtime(os.path.join(out, "orders.parquet")) == mtime
