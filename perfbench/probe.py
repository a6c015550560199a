"""Measurement helpers: process-tree memory sampling from /proc, spans
for the traced run, and a parser that turns Spark's uncompressed event
log into per-job-group task metrics."""
from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every readable process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        r = s.rfind(")")
        comm = s[s.find("(") + 1:r]
        fields = s[r + 2:].split()
        out[int(d)] = (int(fields[1]), comm, int(fields[21]) * _PAGE)
    return out


def _tree(table: dict, root: int) -> list[int]:
    """root and every descendant pid of it in ``table``."""
    kids = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM pyspark launched for this process
    (it exits when its stdin closes) and wait until it and every other
    process started under this one, such as Python workers, has ended."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in _tree(_proc_table(), me) if p != me]
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        proc.wait(timeout)
    deadline = time.time() + timeout
    while any(_alive(p) for p in started):
        if time.time() > deadline:
            raise RuntimeError(f"processes still running after stop: {started}")
        time.sleep(0.05)


class RssSampler:
    """Samples the resident memory of this process and all of its
    descendants (driver Python, the JVM, Python workers) in a daemon
    thread; keeps the peak of the tree total and of the JVM and the
    Python workers separately."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_total = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        jvms = [p for p in _tree(table, me) if table.get(p, (0, ""))[1] == "java"]
        under_jvm = {p for j in jvms for p in _tree(table, j) if p != j}
        total = jvm = workers = 0
        for pid in _tree(table, me):
            _, comm, rss = table.get(pid, (0, "", 0))
            total += rss
            jvm += rss if comm == "java" else 0
            workers += rss if pid in under_jvm and comm.startswith("python") else 0
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


class Spans:
    """In-memory spans: name, start, end, parent span id, op id. With
    ``enabled`` False every call is a no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, op: int | None = None):
        return _Span(self, name, op)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.records, **extra}, f)


class _Span:
    def __init__(self, owner: Spans, name: str, op):
        self.owner, self.name, self.op = owner, name, op

    def __enter__(self):
        if self.owner.enabled:
            o = self.owner
            self.id = len(o.records)
            o.records.append({"id": self.id, "name": self.name, "op": self.op,
                              "parent": o._stack[-1] if o._stack else None,
                              "start": time.time(), "end": None})
            o._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        if self.owner.enabled:
            self.owner.records[self.id]["end"] = time.time()
            self.owner._stack.pop()


# ------------------------------------------------------------ event log

_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}
_MB = 1024.0 * 1024.0


def _event_files(log_dir: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p), int(parts[1]) if len(parts) > 1
                and parts[1].isdigit() else 0)
    return sorted(files, key=order)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks, executor run
    and CPU time, GC, shuffle bytes, fetch wait, spill and the Python
    worker SQL metrics (summed task updates)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages_done: dict[str, set] = defaultdict(set)
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is not None and "Completion Time" in info:
                        stages_done[group].add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = out[group]
                    g["spark.tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        g["spark.failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                            + m.get("Disk Bytes Spilled", 0)) / _MB
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["spark.shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)) / _MB
                    g["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = _PY_METRICS.get(acc.get("Name"))
                        upd = acc.get("Update")
                        if name is None or upd is None:
                            continue
                        v = float(upd)
                        # timing SQL metrics are recorded in ms, sizes in bytes
                        g[name] += v / 1e3 if name.endswith("_s") else v / _MB
    for group, ids in stages_done.items():
        out[group]["spark.stages"] = len(ids)
    return {k: dict(v) for k, v in out.items()}
