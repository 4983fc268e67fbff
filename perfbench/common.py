"""Shared pieces of the benchmark: spans, Spark status-store readers,
quantiles and host probes.

Everything here runs in the benchmark's own process and reads the
engine from the outside: spans wrap the calls the benchmark makes into
each layer, and the job, stage and SQL numbers come from Spark's own
status stores after the timed phase.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import math
import os
import re
import threading
import time
from dataclasses import asdict, dataclass


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once the run ends. Disabled tracers record nothing and set no Spark
    job group, so untraced runs pay only a no-op context manager."""

    def __init__(self, run_id: str, enabled: bool, sc=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None):
        """Time a call into a layer. ``job_group`` tags the Spark jobs
        the call launches (per thread), so the status store can split
        them by call afterwards."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        prev_group = None
        if job_group is not None and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(job_group, name)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            if job_group is not None and self.sc is not None:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, prev_group)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in spans of that layer minus the part
        of each span that its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s.end - s.start) - child_time.get(s.id, 0.0)
            out[s.layer] = out.get(s.layer, 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark status stores (read after the timed phase)
# ---------------------------------------------------------------------------

_STAGE_FIELDS = (
    ("numTasks", "tasks", 1),
    ("executorRunTime", "task_run_s", 1e-3),
    ("executorCpuTime", "task_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("inputBytes", "input_bytes", 1),
)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def spark_jobs(sc) -> list[dict]:
    """Every job the status store still holds: id, job group, and the
    summed metrics of the stages it ran (skipped stages count as stages
    but carry no task metrics)."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        group = j.jobGroup()
        rec = {
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "stages": 0,
            **{name: 0 for _, name, _ in _STAGE_FIELDS},
        }
        for sid in _seq(j.stageIds()):
            rec["stages"] += 1
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: counted, no metrics
                continue
            if st.status().toString() == "SKIPPED":
                continue
            for attr, name, scale in _STAGE_FIELDS:
                rec[name] += getattr(st, attr)() * scale
        jobs.append(rec)
    return jobs


def sum_jobs(jobs: list[dict], match=lambda g: True) -> dict:
    sel = [j for j in jobs if match(j["group"])]
    out = {"jobs": len(sel)}
    for key in ("stages",) + tuple(dict.fromkeys(n for _, n, _ in _STAGE_FIELDS)):
        out[key] = sum(j[key] for j in sel)
    return out


def spark_totals(run: dict) -> dict:
    """The ``spark.*`` and ``sources.input_bytes`` layer metrics of a
    :func:`sum_jobs` result."""
    out = {f"spark.{k}": run[k] for k in (
        "jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")}
    out["sources.input_bytes"] = run["input_bytes"]
    return out


_DURATION = re.compile(r"^([\d.,]+)\s*(ms|s|m|h)$")
_DURATION_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
#: SQL plan-graph nodes whose metrics time the Python (Arrow/pandas) workers
PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def _parse_duration(text: str) -> float | None:
    """'total (min, med, max ...)\\n8.6 s (...)' -> 8.6; None if absent."""
    lines = text.strip().splitlines()
    if not lines:
        return None
    head = lines[-1].split(" (")[0].strip() if len(lines) > 1 else lines[0].strip()
    m = _DURATION.match(head)
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _DURATION_SCALE[m.group(2)]


def python_worker_times(spark) -> dict[int, dict]:
    """Per SQL execution: its job ids and the summed 'time to run Python
    workers' of its Python eval nodes (None when the plan has Python
    nodes but no such metric: a coverage gap)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, dict] = {}
    execs = store.executionsList()
    for e in _seq(execs):
        eid = e.executionId()
        jobs = [int(x) for x in e.jobs().keys().mkString(",").split(",") if x]
        metrics = store.executionMetrics(eid)
        py_nodes, seconds = 0, 0.0
        it = store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            if not PYTHON_NODE.search(node.name()):
                continue
            py_nodes += 1
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() != "time to run Python workers":
                    continue
                v = metrics.get(m.accumulatorId())
                if v.isDefined():
                    seconds += _parse_duration(v.get()) or 0.0
        out[eid] = {"jobs": jobs, "python_nodes": py_nodes, "python_s": seconds}
    return out


def trace_confs() -> dict[str, str]:
    """Status-store retention for traced runs, so no job of the run is
    evicted before it is read."""
    return {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedTasks": "1000000",
    }


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor ran something else while this host wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def md5_probe(seconds: float = 0.3) -> int:
    """Single-core md5 digests per second: an engine-independent host
    speed probe, so host noise shows in the run record."""
    payloads = [str(i).encode() for i in range(1024)]
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for p in payloads:
            hashlib.md5(p).digest()
        n += len(payloads)
    return round(n / (time.perf_counter() - t0))


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n in each. A child the JVM forks to run a shell
    command shares all of the JVM's pages until it execs; plain RSS
    would count them twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root_pid: int) -> dict[int, tuple[int, str]]:
    """Resident bytes (as PSS) and command name of ``root_pid`` and every
    descendant, by pid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, statm, todo = {}, {}, [(root_pid, None)]
    while todo:
        pid, parent = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
            # a child spawned with vfork (the JVM's jspawnhelper) runs in
            # its parent's address space until it execs: same mm, same
            # statm, and its PSS would count that memory a second time
            if statm[pid] != statm.get(parent):
                with open(f"/proc/{pid}/comm") as f:
                    out[pid] = (_pss_bytes(pid), f.read().strip())
        except OSError:
            pass
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out
