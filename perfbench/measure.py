"""Measurement helpers the workloads share: spans and their self time,
prefix differencing, the /proc RSS sampler and JVM guard, and on-disk byte
accounting for the write/space amplification ratios.

Nothing here imports Spark; every function works on plain numbers, paths
and process ids so the arithmetic is testable without a session.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records ``(name, start, end, parent, run_id)`` around calls made by
    the benchmark's own code. Spans stay in memory until the run ends."""

    run_id: str
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)

    def as_records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "self": st}
            for s, st in zip(self.spans, self_times(self.spans))
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> "_SpanCtx":
        tr = self.tracer
        self.t0 = time.perf_counter()
        if tr.enabled:
            parent = tr._stack[-1] if tr._stack else None
            tr.spans.append(Span(self.name, self.t0, self.t0, parent, tr.run_id))
            tr._stack.append(len(tr.spans) - 1)
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.perf_counter()
        tr = self.tracer
        if tr.enabled:
            tr.spans[tr._stack.pop()].end = self.t1

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return [s.dur - union_length(kids.get(i, [])) for i, s in enumerate(spans)]


def self_time_by_name(spans: list[Span]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s, st in zip(spans, self_times(spans)):
        out.setdefault(s.name, []).append(st)
    return out


def prefix_delta(durations: dict[str, float], name: str,
                 prerequisites: tuple[str, ...]) -> float:
    """Self time of a pipeline stage measured by materialising successive
    prefixes: the stage's prefix re-runs its prerequisites, so its own
    share is the prefix time minus theirs. Noise can make it negative;
    it is reported as measured."""
    return durations[name] - sum(durations[p] for p in prerequisites)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# Processes: JVM guard and RSS sampler
# ---------------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:
        return None


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        stat = _read(f"/proc/{d}/stat")
        if stat is None:
            continue
        # comm may hold spaces/parens: the fields after the last ')' are fixed
        rest = stat.rsplit(")", 1)[-1].split()
        out[int(d)] = int(rest[1])
    return out


def descendants(root: int, ppids: dict[int, int] | None = None) -> set[int]:
    ppids = _ppid_map() if ppids is None else ppids
    children: dict[int, list[int]] = {}
    for pid, pp in ppids.items():
        children.setdefault(pp, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def spark_jvms() -> list[int]:
    """PIDs of running JVMs that host Spark (driver or executor)."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        cmd = _read(f"/proc/{d}/cmdline")
        if cmd and "java" in cmd.split("\0", 1)[0] and "org.apache.spark" in cmd:
            found.append(int(d))
    return found


def rss_bytes(pid: int) -> int:
    status = _read(f"/proc/{pid}/status")
    if status is None:
        return 0
    for line in status.splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree (the Spark JVM plus its
    Python workers) on a background thread; ``peak`` is the largest sum."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root, self.interval = root_pid, interval_s
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        pids = {self.root} | descendants(self.root)
        self.seen |= pids
        total = sum(rss_bytes(p) for p in pids)
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    """Wait until none of ``pids`` is alive; return the survivors."""
    deadline = time.monotonic() + timeout_s
    alive = {p for p in pids if _alive(p)}
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = {p for p in alive if _alive(p)}
    return alive


def _alive(pid: int) -> bool:
    stat = _read(f"/proc/{pid}/stat")
    # a zombie has exited; only its parent's wait() is outstanding
    return stat is not None and stat.rsplit(")", 1)[-1].split()[0] != "Z"


# ---------------------------------------------------------------------------
# Bytes on disk
# ---------------------------------------------------------------------------

FileKey = tuple[int, int, int]  # (inode, size, mtime_ns)


def file_index(*roots: str) -> dict[str, FileKey]:
    """path -> (inode, size, mtime_ns) for every regular file under roots
    (a root may itself be a file; missing roots are skipped)."""
    out: dict[str, FileKey] = {}
    for root in roots:
        if os.path.isfile(root):
            st = os.stat(root)
            out[root] = (st.st_ino, st.st_size, st.st_mtime_ns)
            continue
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict[str, FileKey], after: dict[str, FileKey]) -> int:
    """Bytes of files that are new or rewritten between two indexes. A file
    that was only renamed keeps its inode, size and mtime, so moving a
    directory into a snapshot store costs nothing; a rewritten file counts
    in full."""
    old = {(ino, size, mt) for ino, size, mt in before.values()}
    return sum(size for ino, size, mt in after.values()
               if (ino, size, mt) not in old)


def tree_bytes(*roots: str) -> int:
    return sum(size for _, size, _ in file_index(*roots).values())
