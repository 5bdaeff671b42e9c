"""Tracing for the benchmark, kept outside the engine package.

- ``Tracer`` records spans (name, start, end, parent, op id) in memory
  around calls into the engine's layers, and writes them out at exit.
  Spans are recorded only on threads whose current operation is traced.
- ``wrap_function`` rebinds a public engine function to a timing wrapper
  in every engine module that imported it, so calls made inside the
  engine are timed too.
- ``read_event_log`` splits Spark's event log by job group: the harness
  puts each operation's plan build and execution in their own group.
- ``storage_bytes`` and ``RssSampler`` read cached storage and the
  resident memory of the driver, JVM and Python workers.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    sid: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def operation(self, op: str | None):
        """Trace spans opened on this thread under ``op``; ``None`` turns
        tracing off for the block (an untraced pass)."""
        prev = getattr(self._local, "op", None), getattr(self._local, "stack", [])
        self._local.op, self._local.stack = op, []
        try:
            yield
        finally:
            self._local.op, self._local.stack = prev

    @contextmanager
    def span(self, name: str):
        op = getattr(self._local, "op", None)
        if op is None:
            yield
            return
        stack = self._local.stack
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None, op, sid))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    def self_times(self) -> dict[str, dict[str, float]]:
        """Op id -> span name -> self time: each span's duration minus the
        part of it its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s.op][s.name] += (s.end - s.start) - child[s.sid]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def wrap_function(tracer: Tracer, owner: object, attr: str, span: str) -> None:
    """Replace ``owner.attr`` with a wrapper recording ``span``, and rebind
    every ``from ... import attr`` copy in the engine's modules."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(span):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapper)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("http_datafusion_spark"):
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapper)


def storage_bytes(spark) -> int:
    """Memory + disk bytes of every RDD with cached partitions (pins,
    cached dimension tables, cached ingest tables)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.numCachedPartitions() > 0)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    task_skew: float = 1.0  # worst stage's max / median task time
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    failed_tasks: int = 0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, the stages that ran tasks, and their task
    metrics. A stage shared by several jobs counts for the first."""
    # Spark 4 writes a rolling log: a directory of ``events_*`` files.
    files = [os.path.join(d, f) for d, _, names in os.walk(log_dir)
             for f in sorted(names) if f.startswith("events_")]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    task_times: dict[int, list[float]] = defaultdict(list)
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    g = out[group]
                    info = ev["Task Info"]
                    g.tasks += 1
                    if info.get("Failed"):
                        g.failed_tasks += 1
                    task_times[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
                    m = ev.get("Task Metrics") or {}
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    rd = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, times in task_times.items():
        g = out[stage_group[sid]]
        g.stages += 1
        if len(times) == 1:
            g.single_task_stages += 1
        else:
            med = statistics.median(times)
            g.task_skew = max(g.task_skew, max(times) / med if med > 0 else 1.0)
    return dict(out)


def cpu_counters() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_counters`` readings: a slow run on a busy host shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _process_tree(root: int) -> dict[int, int]:
    """pid -> resident KiB for ``root`` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status", encoding="ascii", errors="replace") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # the process ended while the table was read
        pid = int(entry)
        children[int(fields["PPid"])].append(pid)
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        tree[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return tree


def descendants(root: int) -> list[int]:
    return [pid for pid in _process_tree(root) if pid != root]


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive (children of a stopped JVM
    exit once their parent has gone)."""
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{pid}") for pid in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still alive: {pids}")
        time.sleep(0.1)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_process_tree(os.getpid()).values()))
            self._stop.wait(self._interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
