"""Measurement plumbing for the engine benchmark: spans, ``/proc`` CPU and
RSS of the process tree, noise context, child reaping and Spark
event-log aggregation.

Everything here observes the engine from outside: spans wrap calls into
public functions, CPU and RSS come from ``/proc``, and execution counters
come from Spark's own event log (JSON lines, one ``SparkListener*`` event
per line).
"""

from __future__ import annotations

import ctypes
import glob
import json
import os
import signal
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


# --- spans ------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds (comparable with Spark's epoch-ms stamps)
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span tree; written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = [
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.sid
        ]
        return span.dur - union_len(kids)

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "dur_s": s.dur,
                "self_s": self.self_time(s),
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0)


# --- /proc -------------------------------------------------------------------


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a ``/proc/.../stat`` file, or None if
    the process or thread has gone. ``comm`` may hold spaces and
    parentheses, so it ends at the last ``)``."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    head, _, tail = raw.rpartition(")")
    return head.partition("(")[2], tail.split()


def _cpu(fields: list[str], children: bool) -> float:
    """utime + stime (+ cutime + cstime of reaped children) in seconds."""
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def proc_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` including the children it has reaped."""
    st = _stat(f"/proc/{pid}/stat")
    return _cpu(st[1], True) if st else 0.0


def _rss_mb(pid: int) -> float:
    st = _stat(f"/proc/{pid}/stat")
    return int(st[1][21]) * PAGE_MB if st else 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:  # the task exited while we walked the tree
            pass
    return out


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


# JVM thread groups by thread name (``comm`` keeps its first 15 bytes)
THREAD_GROUPS = (
    ("jit", ("C2 CompilerThre", "C1 CompilerThre")),
    ("gc", ("GC Thread", "G1 ", "VM Thread")),
    ("task", ("Executor task l",)),
)


def thread_group(comm: str) -> str:
    for group, prefixes in THREAD_GROUPS:
        if comm.startswith(prefixes):
            return group
    return "jvm_other"


class CpuLedger:
    """CPU of the benchmark's process tree, split by role: the Python
    driver (this process), the gateway JVM by thread group, and the Python
    workers (every process below the JVM).

    Per-thread times only ever grow, so the ledger keeps the last value it
    saw for each JVM thread and a group's total is the sum over all
    threads seen; a thread that ends loses only what it ran after the last
    ``observe``. CPU the groups miss, ended threads included, lands in
    ``jvm_other``, which is the JVM process total minus the other groups.
    Processes count with ``cutime``/``cstime``, so a Python worker that
    has exited and been reaped still counts, in its parent.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid
        self._threads: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()

    def observe(self) -> None:
        seen = {}
        for path in glob.glob(f"/proc/{self.jvm}/task/*/stat"):
            st = _stat(path)
            if st:
                seen[int(path.split("/")[4])] = (thread_group(st[0]), _cpu(st[1], False))
        with self._lock:
            self._threads.update(seen)

    def snapshot(self) -> dict[str, float]:
        """Cumulative CPU seconds per role; differences of two snapshots
        give the CPU spent between them."""
        self.observe()
        with self._lock:
            groups = {"jit": 0.0, "gc": 0.0, "task": 0.0}
            for group, cpu in self._threads.values():
                if group in groups:
                    groups[group] += cpu
        # the JVM's only children are Python workers, so its cutime and
        # cstime are theirs
        st = _stat(f"/proc/{self.jvm}/stat")
        jvm = _cpu(st[1], False) if st else 0.0
        workers = (_cpu(st[1], True) - jvm if st else 0.0) + sum(
            proc_cpu_s(p) for p in descendants(self.jvm)
        )
        driver = proc_cpu_s(os.getpid())
        return {
            "py_driver": driver,
            "jit": groups["jit"],
            "gc": groups["gc"],
            "task": groups["task"],
            "jvm_other": jvm - sum(groups.values()),
            "py_worker": workers,
            "total": driver + jvm + workers,
        }


def rss_mb(jvm_pid: int) -> dict[str, float]:
    """RSS of the JVM, of the Python processes (driver and workers) and of
    the whole tree."""
    jvm = _rss_mb(jvm_pid)
    py = _rss_mb(os.getpid()) + sum(_rss_mb(p) for p in descendants(jvm_pid))
    return {"jvm": jvm, "py": py, "tree": jvm + py}


class Sampler:
    """Every ``interval`` seconds on a daemon thread: keeps the peak RSS of
    each role and lets ``ledger`` see JVM threads before they end."""

    def __init__(self, ledger: CpuLedger, interval: float = 0.25) -> None:
        self.ledger, self.interval = ledger, interval
        self.peak = {"jvm": 0.0, "py": 0.0, "tree": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            for k, v in rss_mb(self.ledger.jvm).items():
                self.peak[k] = max(self.peak[k], v)
            self.ledger.observe()
            self._stop.wait(self.interval)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- child processes ---------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: one whose
    parent exits (a Python worker of the JVM, a helper the JVM forks while
    it shuts down) is re-parented here, not to init, so ``reap_children``
    can wait for every process the run started."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children(grace: float = 60.0, term_grace: float = 10.0) -> None:
    """Return once every descendant has ended and been reaped. Those still
    running after ``grace`` seconds get SIGTERM, and ``term_grace``
    seconds later SIGKILL."""
    deadline, sig = time.time() + grace, signal.SIGTERM
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:  # no children left
            return
        if time.time() >= deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except OSError:  # it ended meanwhile
                    pass
            deadline, sig = time.time() + term_grace, signal.SIGKILL
        time.sleep(0.05)


# --- noise context -----------------------------------------------------------


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_s() -> float:
    """CPU seconds stolen from this VM by the hypervisor since boot, all
    CPUs together (the 8th value of the ``cpu`` line of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


# --- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (uncompressed, non-rolling) logs in ``log_dir``."""
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def union_len(intervals: list[tuple[float, float]]) -> float:
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


def exec_counters(events: list[dict], start: float, end: float, cores: int) -> dict:
    """Aggregate the jobs, stages and tasks that started inside the wall
    window [start, end] (epoch seconds) into the ``exec.*`` and
    ``sources.input_*`` per-layer counters."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = stages = 0
    tasks: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", -1) <= hi:
                jobs += 1
        elif kind == "SparkListenerStageCompleted":
            if lo <= ev["Stage Info"].get("Submission Time", -1) <= hi:
                stages += 1
        elif kind == "SparkListenerTaskEnd":
            if lo <= ev["Task Info"]["Launch Time"] <= hi:
                tasks.append(ev)
    spans: list[tuple[float, float]] = []
    c = dict.fromkeys(
        ("task_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
         "input_bytes", "input_rows"),
        0.0,
    )
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        s, e = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
        spans.append((max(s, start), min(e, end)))
        c["task_s"] += e - s
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        im = m.get("Input Metrics") or {}
        c["input_bytes"] += im.get("Bytes Read", 0)
        c["input_rows"] += im.get("Records Read", 0)
    wall = max(end - start, 1e-9)
    return {
        "exec.jobs": jobs,
        "exec.stages": stages,
        "exec.tasks": len(tasks),
        "exec.core_util": c["task_s"] / (wall * cores),
        "exec.driver_only_s": wall - union_len([(s, e) for s, e in spans if e > s]),
        "exec.shuffle_write_bytes": c["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": c["shuffle_read_bytes"],
        "exec.spill_bytes": c["spill_bytes"],
        "sources.input_bytes": c["input_bytes"],
        "sources.input_rows": c["input_rows"],
    }
