"""Spans, process-tree memory and Spark event-log folding for the benchmark.

Everything here observes the program from outside: spans are recorded
around calls the benchmark makes (or wraps) into the package's public
functions, memory is read from ``/proc``, and per-job executor work comes
from Spark's own uncompressed event log, read after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from contextlib import contextmanager

from tools.run_full_build import RssSampler

MIB = 1024 * 1024


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out at the
    end. A disabled tracer records nothing; its ``span`` is a bare yield."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span wall minus the part of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_s(kids.get(s["id"], [])) for s in spans
    }


def self_time_check(spans: list[dict]) -> dict:
    """Self times are non-negative and, per root, add up to its wall time."""
    own = self_times(spans)
    root_of: dict[int, int] = {}
    for s in spans:  # parents precede children in record order
        root_of[s["id"]] = s["id"] if s["parent"] is None else root_of[s["parent"]]
    sums: dict[int, float] = {}
    for sid, t in own.items():
        sums[root_of[sid]] = sums.get(root_of[sid], 0.0) + t
    worst = max(
        (abs(sums[s["id"]] - (s["end"] - s["start"])) for s in spans if s["parent"] is None),
        default=0.0,
    )
    return {
        "min_self_s": min(own.values(), default=0.0),
        "max_root_gap_s": worst,
        "ok": min(own.values(), default=0.0) >= -1e-6 and worst < 1e-6,
    }


# --------------------------------------------------------------------------
# the process tree: memory split into the JVM and the Python workers
# --------------------------------------------------------------------------


def proc_tree(root_pid: int) -> dict[int, tuple[str, list[str]]]:
    """``pid -> (comm, /proc stat fields after comm)`` for ``root_pid`` and
    its descendants."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, list[str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        info[int(entry)] = (raw[raw.find("(") + 1 : raw.rfind(")")], fields)
        children.setdefault(int(fields[1]), []).append(int(entry))
    tree: dict[int, tuple[str, list[str]]] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        if pid in tree or pid not in info:
            continue
        tree[pid] = info[pid]
        stack.extend(children.get(pid, []))
    return tree


def tree_rss_kib(root_pid: int) -> tuple[int, int, int]:
    """(total, JVM, Python-worker) RSS under ``root_pid``, the driver's
    Python process. The total is the root, its JVM and the Python workers.
    Other descendants are the JVM's short-lived shell commands: until one
    execs it shares the JVM's memory, which would count twice."""
    page_kib = os.sysconf("SC_PAGE_SIZE") // 1024
    total = jvm = py = 0
    for pid, (comm, fields) in proc_tree(root_pid).items():
        kib = int(fields[21]) * page_kib
        if pid == root_pid:
            total += kib
        elif comm == "java" and int(fields[1]) == root_pid:
            total += kib
            jvm += kib
        elif comm.startswith("python"):
            total += kib
            py += kib
    return total, jvm, py


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its descendants, with
    the reaped children of each (exited Python workers)."""
    ticks = os.sysconf("SC_CLK_TCK")
    return sum(
        sum(int(fields[i]) for i in (11, 12, 13, 14)) for _comm, fields in proc_tree(root_pid).values()
    ) / ticks


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over the machine's CPUs, from
    ``/proc/stat``. Busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class SplitRssSampler(RssSampler):
    """``tools/run_full_build.RssSampler`` (process-tree peak), also keeping
    the JVM and Python-worker peaks, and stoppable with a join.

    Each sample also accounts the wall time the hypervisor stole: over a
    sampling interval of ``dt`` seconds in which the CPUs that wanted to run
    were busy ``b`` ticks and stolen ``s`` ticks, the program lost about
    ``dt * s / (b + s)`` seconds of progress."""

    def __init__(self, interval: float = 0.2):
        super().__init__(interval)
        # the parent stores its stop Event as ``_stop``, which shadows the
        # Thread method that join() calls; keep the Event under another name
        self._halt = self.__dict__.pop("_stop")
        self.jvm_peak = 0
        self.py_peak = 0
        self.stolen_s = 0.0
        self._last = (time.monotonic(), *cpu_ticks())

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.interval)

    def _sample(self) -> None:
        total, jvm, py = tree_rss_kib(self.root)
        now, busy, steal = time.monotonic(), *cpu_ticks()
        with self._lock:
            self.global_peak = max(self.global_peak, total)
            self.jvm_peak = max(self.jvm_peak, jvm)
            self.py_peak = max(self.py_peak, py)
            t0, b0, s0 = self._last
            db, ds = busy - b0, steal - s0
            if db + ds > 0:
                self.stolen_s += (now - t0) * ds / (db + ds)
            self._last = (now, busy, steal)

    def stolen_mark(self) -> float:
        """Stolen seconds accounted so far, sampled now."""
        self._sample()
        with self._lock:
            return self.stolen_s

    def reset(self) -> None:
        with self._lock:
            self.global_peak = self.jvm_peak = self.py_peak = 0
        self._sample()

    def peaks_mib(self) -> tuple[float, float, float]:
        self._sample()
        with self._lock:
            return self.global_peak / 1024, self.jvm_peak / 1024, self.py_peak / 1024

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# --------------------------------------------------------------------------
# the driver JVM's garbage-collection log
# --------------------------------------------------------------------------

_GC_HEAP = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_GC_UNIT_MIB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def jvm_allocated_mib(spark) -> float:
    """MiB the driver JVM's threads, live and ended, have allocated on the
    heap since it started (``com.sun.management.ThreadMXBean``)."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    return mx.getTotalThreadAllocatedBytes() / MIB


class GcLog:
    """The JVM's log of every collection, with heap use before and after
    it; reads the collections logged since the last ``mark``."""

    def __init__(self, path: str):
        self.path = path
        self.jvm_option = f"-Xlog:gc:file={path}"
        self._offset = 0

    def mark(self) -> None:
        self._offset = os.path.getsize(self.path) if os.path.exists(self.path) else 0

    def heap_after_mib(self) -> list[float]:
        """Heap in use after each collection since the mark, in MiB."""
        with open(self.path) as f:
            f.seek(self._offset)
            text = f.read()
        return [float(m[2]) * _GC_UNIT_MIB[m[3]] for m in _GC_HEAP.findall(text)]

# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4 writes zstd by default; the folder reads plain JSON lines
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """The jobs, tasks and SQL plans of one finished Spark application."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, list[dict]] = {}  # execution id -> plan versions
        self.exec_desc: dict[int, str | None] = {}  # execution id -> description
        self.py_metrics: dict[int, str] = {}  # accumulator id -> metric name
        stage_job: dict[int, int] = {}
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                        "desc": props.get("spark.job.description"),
                        "tasks": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(self._task(ev, stage_job.get(ev["Stage ID"])))
                elif kind in (_SQL_START, _SQL_AQE):
                    if kind == _SQL_START:
                        self.exec_desc[ev["executionId"]] = ev.get("description")
                    plan = ev["sparkPlanInfo"]
                    self.plans.setdefault(ev["executionId"], []).append(plan)
                    for node in _plan_nodes(plan):
                        if is_python_node(node["nodeName"]):
                            for m in node.get("metrics", []):
                                self.py_metrics[m["accumulatorId"]] = m["name"]
        for t in self.tasks:
            if t["job"] in self.jobs:
                self.jobs[t["job"]]["tasks"] += 1
        for j in self.jobs.values():
            if j["end"] is None:  # unfinished at stop: count it to its start
                j["end"] = j["start"]

    @staticmethod
    def _task(ev: dict, job: int | None) -> dict:
        m = ev.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        out = m.get("Output Metrics") or {}
        accums = [
            (a["ID"], _num(a.get("Update")))
            for a in (ev.get("Task Info") or {}).get("Accumulables", [])
            if "ID" in a
        ]
        return {
            "job": job,
            "run_s": m.get("Executor Run Time", 0) / 1000,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000,
            "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
            "shuffle_write": wr.get("Shuffle Bytes Written", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "out_bytes": out.get("Bytes Written", 0),
            "accums": accums,
        }

    def jobs_in(self, start: float, end: float) -> list[int]:
        """Jobs submitted inside [start, end]."""
        return [j for j, v in self.jobs.items() if start <= v["start"] <= end]

    def fold(self, spans: list[dict], ids: list[int]) -> dict[str, float]:
        """Spark's per-job and per-task figures summed over the spans
        ``ids``, whose intervals must not overlap."""
        wall = busy = 0.0
        jobs: set[int] = set()
        for sid in ids:
            s = spans[sid]
            wall += s["end"] - s["start"]
            mine = self.jobs_in(s["start"], s["end"])
            jobs.update(mine)
            busy += _union_s(
                [
                    (max(s["start"], self.jobs[j]["start"]), min(s["end"], self.jobs[j]["end"]))
                    for j in mine
                ]
            )
        tasks = [t for t in self.tasks if t["job"] in jobs]
        py = {"rows": 0.0, "sent": 0.0, "returned": 0.0}
        for t in tasks:
            for aid, upd in t["accums"]:
                name = self.py_metrics.get(aid, "")
                if name == "number of output rows":
                    py["rows"] += upd
                elif name == "data sent to Python workers":
                    py["sent"] += upd
                elif name == "data returned from Python workers":
                    py["returned"] += upd
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "job_busy_s": busy,
            "driver_only_s": wall - busy,
            "exec_run_s": sum(t["run_s"] for t in tasks),
            "exec_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_read_mib": sum(t["shuffle_read"] for t in tasks) / MIB,
            "shuffle_write_mib": sum(t["shuffle_write"] for t in tasks) / MIB,
            "spill_mib": sum(t["spill"] for t in tasks) / MIB,
            "py_rows": py["rows"],
            "py_mib_sent": py["sent"] / MIB,
            "py_mib_returned": py["returned"] / MIB,
        }

    def busy_s(self, jobs: list[int], start: float, end: float) -> float:
        return _union_s(
            [(max(start, self.jobs[j]["start"]), min(end, self.jobs[j]["end"])) for j in jobs]
        )


def plan_counts(plan: dict) -> dict[str, int]:
    """Join, Window, Python-eval and Aggregate nodes in one sparkPlanInfo
    tree. Window counts because the as-of join runs as a window over a
    union."""
    out = {"join": 0, "window": 0, "python": 0, "aggregate": 0}
    for node in _plan_nodes(plan):
        name = node["nodeName"]
        if "Join" in name or name == "CartesianProduct":
            out["join"] += 1
        if "Window" in name:
            out["window"] += 1
        if is_python_node(name):
            out["python"] += 1
        if name.endswith("Aggregate"):
            out["aggregate"] += 1
    return out
