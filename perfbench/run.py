"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql-sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Load model: a closed loop with one
client on local[nproc] (stitch-volume: local[nproc-1], see
``SPARE_CORES``); each op is one build-plus-execute of a pipeline
(the engine entry point, then ``bench.run_full`` to the noop sink).
The seed drives the generated stitch inputs and the op order of every
pass. The program only receives the generated inputs.

A run: set-up (``setup_s``), an untimed pass that verifies every op
against its reference, an untimed warm-up pass (the first ``run_full``
of every op ran 10-50% slower than later ones on sql-sf01), then whole
timed passes; the timed region ends at the pass boundary nearest to
``--seconds``.
With ``--trace 1`` each op runs under its own Spark job groups (build
and exec), Spark's event log is switched on through
``PYSPARK_SUBMIT_ARGS``, spans are kept in memory, and the per-layer
metrics are printed instead of the end-to-end ones; the spans and the
per-op records go to ``.bench_build/perfbench/traces/``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the environment.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BUILD, "data")
WORKLOADS = ("stitch-volume", "sql-sf01", "llm-x10")
# Driver heap, explicit and well below host RAM. Small enough that the
# heap grows to its cap in every run: with 3g, G1's adaptive sizing left
# sql-sf01's peak resident size anywhere between 1.5 and 2.5 GB.
DRIVER_MEM = "1536m"
CANARY_REPS = 2
CANARY_ROWS = 10_000_000
MB = 1024.0 * 1024.0
# Cores left out of the session's task slots, per workload (others run
# local[nproc]). Every stitch-volume task keeps a Python worker and the
# JVM thread that feeds it Arrow batches busy, so on local[nproc] the
# workers, the feeders and the driver contend for the cores. On a
# 4-vCPU VM, five seeds each, the quartile spread of the run median op
# latency was 0.26 of the median on 4 slots and 0.10 on 3.
SPARE_CORES = {"stitch-volume": 1}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(workload: str) -> int:
    return max(1, _nproc() - SPARE_CORES.get(workload, 0))


def _steal_s() -> float:
    """CPU time the hypervisor gave to others while this VM's CPUs were
    runnable, summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _configure_env(workload: str, trace: bool, event_dir: str | None) -> None:
    """Keep Spark, the JVM and Python workers inside the checkout and
    pin the session's size. Must run before pyspark starts a JVM."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots(workload))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers unpickle functions defined in the engine and here
    rest = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and p not in (ROOT, HERE)]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + rest)
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
    ]
    if trace:
        os.makedirs(event_dir, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir={event_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def ensure_fixtures(workload: str) -> float:
    """Build the workload's tables unless a complete copy exists in the
    checkout; benchmark-only work, timed apart from set-up. The
    ten-fold build runs in a child process with a Spark session of its
    own."""
    import fixture
    import workloads as W

    t0 = time.perf_counter()
    if workload == "sql-sf01":
        fixture.ensure_tables(os.path.join(DATA, "sf0.1"), W.SQL_SF, W.FIXTURE_SEED)
    elif workload == "llm-x10":
        ensure_x10(os.path.join(DATA, "x10-base"), os.path.join(DATA, "x10"),
                   W.LLM_BASE_SF)
    return time.perf_counter() - t0


def ensure_x10(base: str, out: str, sf: float) -> None:
    import subprocess

    import fixture
    import workloads as W

    fixture.ensure_tables(base, sf, W.FIXTURE_SEED)
    if not fixture.x10_ready(base, out):
        subprocess.run([sys.executable, os.path.join(HERE, "fixture.py"),
                        "x10", base, out], cwd=ROOT, check=True,
                       stdout=subprocess.DEVNULL, timeout=600)


def _source_fingerprint() -> str:
    """sha1 of the engine and harness sources (the checkout is not a
    git repository, so this stands in for the commit)."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, f) for f in ("bench.py", "check.py", "scale_probe.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "engine"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def tail_percentile(lat: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest latency percentile that still
    leaves at least ten timed ops above it, never below the median
    (with 21 ops or fewer it is the median)."""
    s = sorted(lat)
    i = len(s) - 11
    if i < (len(s) - 1) / 2:
        return statistics.median(s), 50.0
    return s[i], 100.0 * (i + 1) / len(s)


_EXCHANGE = re.compile(r"^[\s:|+\-]*(\w*Exchange)\b")


def count_exchanges(plan_text: str) -> int:
    return sum(1 for line in plan_text.splitlines()
               if (m := _EXCHANGE.match(line)) and m.group(1) != "ReusedExchange")


def default_workload(name: str, seed: int):
    import workloads as W

    if name == "stitch-volume":
        return W.stitch_workload(seed)
    if name == "sql-sf01":
        return W.sql_workload(os.path.join(DATA, "sf0.1"))
    return W.llm_workload(os.path.join(DATA, "x10"))


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 make_workload=default_workload):
        from probe import Spans

        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.make_workload = make_workload
        self.spans = Spans(trace)
        self.rng = random.Random(seed)
        self.spark = None
        self.setup_phases: dict[str, float] = {}
        self.canary: dict[str, list[float]] = {"start": [], "end": []}

    # -------------------------------------------------------- set-up

    def _timed(self, phases: dict, key: str, fn, *a):
        with self.spans.span(key):
            t0 = time.perf_counter()
            out = fn(*a)
            phases[key] = phases.get(key, 0.0) + time.perf_counter() - t0
        return out

    def setup(self) -> None:
        import bench
        from engine.io import load_tables
        from engine.registry import load_all
        from engine.session import get_spark

        self.run_full = bench.run_full
        ph = self.setup_phases
        self.spark = self._timed(ph, "session.start_s", get_spark, "perfbench")
        self._timed(ph, "registry.load_all_s", load_all)
        self.workload = wl = self.make_workload(self.name, self.seed)
        if wl.sf_dir:
            tables = self._timed(ph, "io.load_tables_s", load_tables,
                                 self.spark, wl.sf_dir)
            for t in wl.warm:
                self._timed(ph, "io.warm_s", lambda t=t: tables[t].cache().count())
        if wl.workers:
            n = task_slots(self.name)
            self._timed(ph, "python.spinup_s", lambda: self.spark.range(n)
                        .repartition(n).mapInPandas(lambda it: it, "id long")
                        .count())
        if wl.ingest:
            self._timed(ph, "blocks.ingest_s", wl.ingest, self.spark)

    def canary_pass(self, when: str) -> None:
        cores = task_slots(self.name)
        for _ in range(CANARY_REPS):
            t0 = time.perf_counter()
            self.run_full(self.spark.range(0, CANARY_ROWS, 1, cores)
                          .selectExpr("id", "hash(id) AS h"))
            self.canary[when].append(time.perf_counter() - t0)

    # ------------------------------------------------------- passes

    def verify_pass(self) -> dict[str, str]:
        """Untimed first pass: every op once, checked against its
        reference. Returns op name -> reason for each failure."""
        failures: dict[str, str] = {}
        self.verify_times: dict[str, float] = {}
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        for op in order:
            t0 = time.perf_counter()
            try:
                err = op.verify(op.build(self.spark))
            except Exception as e:  # an op that raises is a failed op
                err = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
            self.verify_times[op.name] = round(time.perf_counter() - t0, 3)
            if err:
                failures[op.name] = err
        return failures

    def warm_pass(self) -> None:
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        for op in order:
            try:
                self.run_full(op.build(self.spark))
            except Exception:  # counted in the timed passes
                pass

    def timed_passes(self, failures: dict[str, str]) -> dict:
        sc = self.spark.sparkContext
        records, errors = [], {}
        t_begin = time.perf_counter()
        passes = 0
        while True:
            order = list(self.workload.ops)
            self.rng.shuffle(order)
            for op in order:
                rec = {"op": len(records), "name": op.name, "pass": passes}
                t0 = time.perf_counter()
                try:
                    with self.spans.span(op.name, rec["op"]):
                        if self.trace:
                            self._traced_op(sc, op, rec)
                        else:
                            self.run_full(op.build(self.spark))
                    ok = op.name not in failures
                except Exception as e:  # counted as failed, never dropped
                    ok = False
                    errors.setdefault(op.name, f"{type(e).__name__}: {str(e)[:300]}")
                rec["latency_s"] = time.perf_counter() - t0
                rec["ok"] = ok
                records.append(rec)
            passes += 1
            elapsed = time.perf_counter() - t_begin
            if elapsed + elapsed / passes / 2 >= self.seconds:
                break
        return {"records": records, "region_s": time.perf_counter() - t_begin,
                "passes": passes, "errors": errors}

    def _traced_op(self, sc, op, rec) -> None:
        gid = f"op{rec['op']}"
        sc.setJobGroup(f"{gid}-build", f"{op.name} build")
        with self.spans.span("build", rec["op"]):
            t0 = time.perf_counter()
            df = op.build(self.spark)
            rec["build_s"] = time.perf_counter() - t0
        sc.setJobGroup(f"{gid}-plan", f"{op.name} plan")
        with self.spans.span("plan", rec["op"]):
            t0 = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan()
            rec["plan_s"] = time.perf_counter() - t0
        rec["exchanges"] = count_exchanges(plan.toString())
        sc.setJobGroup(f"{gid}-exec", f"{op.name} exec")
        with self.spans.span("run_full", rec["op"]):
            t0 = time.perf_counter()
            self.run_full(df)
            rec["exec_s"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)


def end_to_end(runner: Runner, timed: dict, sampler) -> tuple[dict, dict]:
    recs = timed["records"]
    lat = [r["latency_s"] for r in recs]
    ok = sum(r["ok"] for r in recs)
    tail, pct = tail_percentile(lat)
    return {
        "setup_s": (sum(runner.setup_phases.values()), "s"),
        "ops_per_s": (ok / timed["region_s"], "ops/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail, "s"),
        "verified_ratio": (ok / len(recs), "ratio"),
        "peak_rss_mb": (sampler.peak_total / MB, "MB"),
    }, {"op_tail_percentile": pct, "timed_ops": len(recs)}


def per_layer(runner: Runner, timed: dict, sampler, groups: dict) -> dict:
    """Per-layer metrics of a traced run, per pass. ``spark.*`` and
    ``python.*`` task metrics are summed over all three job groups of
    each op, so jobs a key launches while it is built are counted too
    (``queries.build_jobs`` is that share of ``spark.jobs``).
    ``catalyst.plan_s`` times the DataFrame's own planning;
    ``spark.exec_s`` is the wall time of ``run_full``, whose noop write
    plans the query again, so it includes a second planning."""
    recs, passes = timed["records"], timed["passes"]
    ops = {op.name: op for op in runner.workload.ops}
    cores = task_slots(runner.name)
    m: dict[str, tuple[float, str]] = {}
    for key in ("session.start_s", "registry.load_all_s", "io.load_tables_s",
                "io.warm_s", "python.spinup_s", "blocks.ingest_s"):
        m[key] = (runner.setup_phases.get(key, 0.0), "s")
    q = [r for r in recs if ops[r["name"]].layer == "queries"]
    b = [r for r in recs if ops[r["name"]].layer == "blocks"]
    b_time = sum(r["latency_s"] for r in b)
    m["blocks.mvoxel_per_s"] = (
        sum(ops[r["name"]].voxels for r in b) / 1e6 / b_time if b_time else 0.0, "Mvox/s")
    m["blocks.fragment_mb"] = (
        sum(ops[r["name"]].fragment_bytes for r in b) / MB / passes, "MB")
    qb = sum(r.get("build_s", 0.0) for r in q)
    qall = sum(r.get("build_s", 0.0) + r.get("plan_s", 0.0) + r.get("exec_s", 0.0)
               for r in q)
    m["queries.build_s"] = (qb / passes, "s")
    m["queries.build_jobs"] = (sum(
        groups.get(f"op{r['op']}-build", {}).get("spark.jobs", 0) for r in q) / passes,
        "count")
    m["queries.build_share"] = (qb / qall if qall else 0.0, "ratio")
    m["catalyst.plan_s"] = (sum(r.get("plan_s", 0.0) for r in recs) / passes, "s")
    m["catalyst.exchanges"] = (sum(r.get("exchanges", 0) for r in recs) / passes, "count")
    exec_s = sum(r.get("exec_s", 0.0) for r in recs)
    m["spark.exec_s"] = (exec_s / passes, "s")
    units = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
             "spark.failed_tasks": "count", "spark.executor_run_s": "s",
             "spark.executor_cpu_s": "s", "spark.gc_s": "s",
             "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
             "spark.fetch_wait_s": "s", "spark.spill_mb": "MB",
             "python.run_s": "s", "python.start_s": "s",
             "python.sent_mb": "MB", "python.received_mb": "MB"}
    # every task an op ran: jobs launched while the DataFrame is built
    # (driver-loop keys), planned, and executed
    op_groups = [groups.get(f"op{r['op']}-{phase}", {})
                 for r in recs for phase in ("build", "plan", "exec")]
    for key, unit in units.items():
        m[key] = (sum(g.get(key, 0.0) for g in op_groups) / passes, unit)
    # core time left idle while the op's build and exec phases ran (the
    # plan phase is left out: run_full plans the write again inside exec)
    busy_wall = sum(r.get("build_s", 0.0) + r.get("exec_s", 0.0) for r in recs)
    m["spark.idle_core_s"] = (
        (cores * busy_wall - sum(g.get("spark.executor_run_s", 0.0) for g in op_groups))
        / passes, "s")
    m["spark.jvm_peak_rss_mb"] = (sampler.peak_jvm / MB, "MB")
    m["python.worker_peak_rss_mb"] = (sampler.peak_workers / MB, "MB")
    m["host.canary_s"] = (statistics.median(
        runner.canary["start"] + runner.canary["end"]), "s")
    lat = [r["latency_s"] for r in recs]
    m["trace.op_p50_s"] = (statistics.median(lat), "s")
    m["trace.ops_per_s"] = (sum(r["ok"] for r in recs) / timed["region_s"], "ops/s")
    return m


def main(argv=None, make_workload=default_workload, prepare=ensure_fixtures) -> int:
    """CLI entry. ``make_workload(name, seed)`` and ``prepare(name)``
    (fixture building, returns seconds) are parameters so the self-test
    can run the same harness on tiny inputs."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("engine/session.py", "bench.py", "check.py", "scale_probe.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a full checkout",
                  file=sys.stderr)
            return 2

    trace = bool(args.trace)
    tag = f"{args.workload}-seed{args.seed}"
    event_dir = os.path.join(BUILD, "eventlog", f"{tag}-{os.getpid()}")
    sys.path[:0] = [ROOT, HERE]
    _configure_env(args.workload, False, None)
    fixture_build_s = prepare(args.workload)
    _configure_env(args.workload, trace, event_dir)
    from probe import RssSampler, parse_event_log, stop_spark

    env = {"nproc": _nproc(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
           "driver_memory": DRIVER_MEM, "python": sys.version.split()[0],
           "source_sha1": _source_fingerprint(), "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": trace,
           "loadavg_1m_before": _loadavg()}
    steal0 = _steal_s()
    runner = Runner(args.workload, args.seed, args.seconds, trace, make_workload)
    try:
        runner.setup()
        spark = runner.spark
        env["spark"] = spark.version
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        env["fixture_build_s"] = round(fixture_build_s, 3)
        runner.canary_pass("start")
        t0 = time.perf_counter()
        failures = runner.verify_pass()
        env["verify_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        runner.warm_pass()
        env["warm_s"] = round(time.perf_counter() - t0, 3)
        with RssSampler() as sampler:
            timed = runner.timed_passes(failures)
        env["timed_s"] = round(timed["region_s"], 3)
        runner.canary_pass("end")
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
    env["loadavg_1m_after"] = _loadavg()
    env["cpu_steal_s"] = round(_steal_s() - steal0, 2)
    env["peak_rss_jvm_mb"] = round(sampler.peak_jvm / MB, 1)
    env["peak_rss_workers_mb"] = round(sampler.peak_workers / MB, 1)

    recs = timed["records"]
    failed = sum(not r["ok"] for r in recs)
    env["setup_phases"] = runner.setup_phases
    env["canary_s"] = runner.canary
    env["verify_failures"] = failures
    env["verify_op_s"] = runner.verify_times
    env["op_errors"] = timed["errors"]
    env["passes"] = timed["passes"]
    env["op_latency_s"] = [(r["name"], round(r["latency_s"], 4)) for r in recs]
    by_type: dict[str, list[float]] = {}
    for r in recs:
        by_type.setdefault(r["name"], []).append(r["latency_s"])
    env["op_type_p50_s"] = {k: round(statistics.median(v), 4)
                            for k, v in by_type.items()}
    if trace:
        groups = parse_event_log(event_dir)
        metrics = per_layer(runner, timed, sampler, groups)
        extra = {}
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        runner.spans.dump(os.path.join(BUILD, "traces", f"{tag}.json"),
                          {"env": env, "ops": recs, "job_groups": groups})
        shutil.rmtree(event_dir, ignore_errors=True)
    else:
        metrics, extra = end_to_end(runner, timed, sampler)
    env.update(extra)
    print(json.dumps({"env": env}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
