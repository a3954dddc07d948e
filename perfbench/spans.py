"""Tracing and host probes: in-memory spans tied to Spark job groups, the
event-log reader that attributes Spark work to those spans, and the
process-tree memory sampler."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time


class Tracer:
    """Spans with name, start, end, parent and run id, kept in memory.

    Each span sets the Spark job group to its own id for its duration, so the
    event log attributes every job it starts to it; the parent's group is
    restored on exit.
    """

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def by_name(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def subtree(self, span: dict) -> list[dict]:
        """The span and all its descendants."""
        out, frontier = [span], [span["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += kids
            frontier = [k["id"] for k in kids]
        return out

    def annotated(self) -> list[dict]:
        """Spans with duration and self time, for the artifact."""
        out = []
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            out.append(
                dict(s, duration_s=s["end"] - s["start"], self_s=self_time(s, kids))
            )
        return out


def _empty_stats() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "task_failures": 0,
        "scheduler_delay_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
    }


def eventlog_stats(eventlog_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task attempts, failed plus speculative attempts,
    scheduler delay, JVM GC time and shuffle bytes written, read from every
    uncompressed Spark event log file under ``eventlog_dir`` (plain or
    rolling)."""
    groups: dict[str, dict] = defaultdict(_empty_stats)
    paths = sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(eventlog_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "")
                    st = groups[g]
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    if info.get("Failed") or info.get("Speculative"):
                        st["task_failures"] += 1
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    st["scheduler_delay_s"] += max(dur - busy, 0) / 1000
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return dict(groups)


def sum_stats(groups: dict[str, dict], span_ids) -> dict:
    out = _empty_stats()
    for sid in span_ids:
        for k, v in groups.get(sid, {}).items():
            out[k] += v
    return out


def host_snapshot() -> dict:
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    return {
        "time": time.time(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": mem_kb / 1024 if mem_kb is not None else None,
        "loadavg": list(os.getloadavg()),
    }


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        table[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
    return table


def descendants(root: int, table: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """Live processes below ``root`` (the driver JVM and the Python workers
    it forks)."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _comm) in table.items():
        children[ppid].append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants. A java child of
    the JVM is a spawn still sharing the JVM's memory before its exec (the
    JVM starts helper commands that way), so it is not counted twice."""
    table = _proc_table()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root, table):
        ppid, comm = table.get(pid, (0, ""))
        if comm == "java" and table.get(ppid, (0, ""))[1] == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


# JVM threads that compile or evict code rather than run the program: their
# work comes in bursts that differ from run to run, and it is a warm-up cost
# that a long-lived session no longer pays
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _stat_fields(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        stat = f.read()
    return stat[stat.find("(") + 1 : stat.rfind(")")], stat.rsplit(")", 1)[1].split()


def _process_cpu_s(pid: int) -> float:
    """CPU seconds of every thread of ``pid``, live or ended, to the
    nanosecond: the process-wide CPU clock the kernel keeps for each pid,
    whose id Linux encodes as ``~pid << 3 | CPUCLOCK_SCHED`` (2)."""
    return time.clock_gettime(((~pid) << 3) | 2)


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(all, JIT) CPU seconds, user plus system, used so far by ``root`` and
    its live descendants, with the children each of them has reaped (those
    at the 10 ms resolution of /proc). JIT is the part spent on the
    JIT_THREADS of the JVMs in the tree; their threads must not exit
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the difference of two
    readings would miss their work. Time the hypervisor stole from the guest
    is in neither."""
    tick = os.sysconf("SC_CLK_TCK")
    total = jit = 0.0
    for pid in [root] + descendants(root):
        try:
            comm, fields = _stat_fields(f"/proc/{pid}/stat")
            total += _process_cpu_s(pid) + (int(fields[13]) + int(fields[14])) / tick
            if comm != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, _ = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(JIT_THREADS):
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                        jit += int(f.read().split()[0]) / 1e9
        except OSError:
            continue
    return total, jit


def host_steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this guest since boot, over
    all its CPUs (0 when the kernel does not account for it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a daemon
    thread while active. ``take()`` returns the peak since the previous
    ``take()`` in MiB, so each request gets its own peak. ``cpu_s`` is the
    CPU time its own sampling has used, which CPU readings of the tree
    subtract."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.cpu_s = 0.0
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self._sample()
            with self._lock:
                self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.interval)

    def take(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / 2**20

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
