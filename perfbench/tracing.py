"""Spans, Spark REST metrics and process memory for the benchmark.

Everything here is stdlib only and lives outside the program: spans are
recorded around calls into the program's layers, Spark task and SQL
metrics are read per job group from the driver's status REST API on
``localhost``, and resident memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterable, List, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    sets no job group, so untraced runs carry no instrumentation."""

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, job_group: bool = False):
        """Record a span named ``name``; with ``job_group`` also tag the
        Spark jobs started inside it with that name."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.monotonic(), 0.0, parent,
                               self.run_id))
        self._stack.append(sid)
        if job_group and self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if job_group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans[sid].end = time.monotonic()
            self._stack.pop()

    def dump(self) -> List[dict]:
        selfs = self_times(self.spans)
        return [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]


def self_times(spans: Iterable[Span]) -> Dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    spans = list(spans)
    children: Dict[int, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivals = sorted((max(c.start, s.start), min(c.end, s.end))
                       for c in children.get(s.id, []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivals:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


# ---- Spark status REST API ------------------------------------------------

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """Total of one SQL metric as the REST API formats it: a plain count
    (``"10,871"``), a size (``"3.7 MiB"`` → bytes) or a duration
    (``"821 ms"`` → seconds). Aggregated metrics put the total first on
    the line after a ``total (min, med, max ...)`` header."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return num * _UNITS.get(unit, 1)


TASK_METRICS = ("cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "tasks",
                "failed_tasks")


def group_task_metrics(jobs: List[dict], stages: List[dict],
                       groups: Iterable[str]) -> Dict[str, Dict[str, float]]:
    """Sum stage task metrics per job group. A stage shared by several
    jobs is counted once, for the earliest job that lists it; skipped
    stages ran no tasks and add nothing."""
    groups = list(groups)
    owner: Dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job.get("jobGroup"))
    out = {g: {k: 0.0 for k in TASK_METRICS} for g in groups}
    for st in stages:
        g = owner.get(st["stageId"])
        if g not in out or st.get("status") == "SKIPPED":
            continue
        m = out[g]
        m["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        m["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
        m["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        m["spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                             + st.get("diskBytesSpilled", 0))
        m["tasks"] += (st.get("numCompleteTasks", 0)
                       + st.get("numFailedTasks", 0)
                       + st.get("numKilledTasks", 0))
        m["failed_tasks"] += st.get("numFailedTasks", 0)
    return out


def group_sql_metric(jobs: List[dict], executions: List[dict], group: str,
                     node_name: str, metric: str) -> float:
    """Sum one SQL metric of every ``node_name`` plan node over the SQL
    executions whose jobs belong to ``group``."""
    job_ids = {j["jobId"] for j in jobs if j.get("jobGroup") == group}
    total = 0.0
    for ex in executions:
        ids = (set(ex.get("successJobIds", []))
               | set(ex.get("failedJobIds", [])))
        if not ids & job_ids:
            continue
        for node in ex.get("nodes", []):
            if node.get("nodeName") != node_name:
                continue
            for mt in node.get("metrics", []):
                if mt["name"] == metric:
                    total += parse_metric_value(mt["value"])
    return total


# every SQL execution (the endpoint pages 20 at a time by default)
SQL_QUERY = "/sql?details=true&planDescription=false&offset=0&length=1000000"


class SparkRest:
    """Reader of the live application's status REST API."""

    def __init__(self, spark_context):
        port = spark_context.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{spark_context.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def snapshot(self, groups: Iterable[str], timeout_s: float = 30.0):
        """(jobs, stages, executions) once every job of ``groups`` has
        ended: the status store trails the scheduler by a few events."""
        groups = set(groups)
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = self.get("/jobs")
            ours = [j for j in jobs if j.get("jobGroup") in groups]
            running = [j for j in ours if j["status"] == "RUNNING"]
            executions = self.get(SQL_QUERY)
            pending = [e for e in executions if e.get("status") == "RUNNING"]
            if not running and not pending:
                return jobs, self.get("/stages"), executions
            if time.monotonic() > deadline:
                raise TimeoutError(f"{len(running)} jobs still running in "
                                   f"the status store after {timeout_s}s")
            time.sleep(0.2)


# ---- process memory -------------------------------------------------------

def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set (VmHWM) over ``root_pid`` and all its
    living descendants, in MiB."""
    kids = _children_map()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---- host contention --------------------------------------------------------

def host_counters() -> Dict[str, float]:
    """Machine-wide seconds so far of CPU steal and I/O wait (summed over
    CPUs, from ``/proc/stat``) and of CPU and I/O pressure stalls (the
    ``some`` totals of ``/proc/pressure``). The difference of two
    readings tells a run slowed by other tenants or by the disk from one
    slowed by its own work. Counters the kernel does not expose are
    left out."""
    out: Dict[str, float] = {}
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    out["iowait_s"] = int(cpu[5]) / tick
    out["steal_s"] = int(cpu[8]) / tick
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                some = fh.readline()
        except OSError:
            continue
        out[f"{res}_stall_s"] = int(some.rsplit("total=", 1)[1]) / 1e6
    return out
