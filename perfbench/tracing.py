"""Timing, tracing and memory sampling for the benchmark.

Every timed call goes through ``Tracer.call``. Untraced, it only reads
the clock. Traced, it also

- tags the Spark jobs of each phase with a job group
  (``<span>|<seq>|build`` or ``...|exec``);
- forces Catalyst optimization and physical planning of the result
  before the action and reads their durations from the query's
  ``QueryPlanningTracker`` (the probe's own wall time is kept apart as
  tracing overhead);
- after the session stops, reads Spark's event log and attributes jobs,
  tasks, executor CPU, shuffle, input and output per job group.

Records stay in memory; the caller writes them out once at the end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, on: bool, event_log_dir: str | None = None):
        self.spark = spark
        self.on = on
        self.event_log_dir = event_log_dir
        self.records: list[dict] = []
        self._seq = 0

    @contextmanager
    def _group(self, group: str):
        if not self.on:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _plan_s(self, df) -> float:
        """Optimization + planning time of ``df``'s own query. Analysis
        already ran eagerly while the DataFrame was built."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        jvm = self.spark.sparkContext._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        ms = sum(phases[p].durationMs() for p in ("optimization", "planning") if phases.containsKey(p))
        return ms / 1000.0

    def call(self, span: str, build, act=None) -> tuple[object, dict]:
        """Time ``act(build())`` (or ``build()`` alone when ``act`` is
        None) as one execution of ``span``; returns (result, record)."""
        seq = self._seq
        self._seq += 1
        group = f"{span}|{seq}"
        c0 = cpu_s()
        t0 = time.perf_counter()
        with self._group(f"{group}|build"):
            out = build()
        build_s = time.perf_counter() - t0
        plan_s = probe_s = 0.0
        if act is not None:
            if self.on:
                t1 = time.perf_counter()
                plan_s = self._plan_s(out)
                probe_s = time.perf_counter() - t1
            t1 = time.perf_counter()
            with self._group(f"{group}|exec"):
                out = act(out)
            act_s = time.perf_counter() - t1
        else:
            act_s = 0.0
        cpu = cpu_s() - c0
        rec = {
            "span": span,
            "group": group,
            "wall_s": build_s + act_s,
            "build_s": build_s,
            "plan_s": plan_s,
            "exec_s": act_s - plan_s,
            "probe_s": probe_s,
            "cpu_s": cpu,
        }
        self.records.append(rec)
        return out, rec

    def attach_event_log(self) -> None:
        """Add per-phase Spark counters to every record. Call after the
        session has stopped, so the event log is complete."""
        if not self.on:
            return
        stats = read_event_log(self.event_log_dir)
        for rec in self.records:
            for phase in ("build", "exec"):
                for k, v in stats.get(f"{rec['group']}|{phase}", {}).items():
                    rec[f"{phase}_{k}"] = v


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> {jobs, tasks, executor_cpu_s, shuffle_bytes,
    output_bytes, records_read}, from every event-log file under ``log_dir``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[tuple[int, int], str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    info = ev["Stage Info"]
                    if group:
                        stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    g["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    g["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    g["records_read"] += m["Input Metrics"]["Records Read"]
    return {k: dict(v) for k, v in out.items()}


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PF_FORKNOEXEC = 0x40  # /proc/<pid>/stat flags: forked, has not exec'd


def tree_usage(root: int) -> tuple[int, float]:
    """(resident KiB, CPU seconds) of ``root`` and all its descendants:
    this process, the Spark JVM and its Python workers. CPU includes
    reaped children, so a worker that exits keeps its seconds counted.

    A child the JVM has forked but that has not yet exec'd its program
    (Hadoop's shell helpers, the Python daemon) shares every page of
    the JVM, so its resident pages are left out: counted, they would
    add the JVM's size a second time for the instant the fork lasts."""
    children: dict[int, list[int]] = defaultdict(list)
    usage: dict[int, tuple[int, int]] = {}
    forked: set[int] = set()
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        rest = tail.split()
        pid, ppid = int(entry), int(rest[1])
        children[ppid].append(pid)
        comm[pid] = head.split("(", 1)[1]
        usage[pid] = (int(rest[21]), sum(int(x) for x in rest[11:15]))
        if int(rest[6]) & _PF_FORKNOEXEC:
            forked.add(pid)
    pages = ticks = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        p, t = usage.get(pid, (0, 0))
        pages, ticks = pages + p, ticks + t
        for child in children.get(pid, ()):
            if child in forked and comm.get(pid) == "java":
                ticks += usage[child][1]
            else:
                stack.append(child)
    return pages * _PAGE_KB, ticks * _TICK_S


def cpu_s() -> float:
    return tree_usage(os.getpid())[1]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) * _TICK_S


class RssSampler:
    """Peak resident memory of this process plus the Spark JVM and its
    Python workers (all descendants), sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_usage(me)[0])
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
