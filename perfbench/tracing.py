"""In-memory span recorder and a process-tree memory sampler."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

_T0 = time.time()


def log(msg: str) -> None:
    """Progress to standard error; standard output carries the result."""
    print(f"perfbench [{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """Records spans (name, start, end, parent) around the benchmark's
    calls into the program's layers.  Disabled, ``span`` does nothing,
    so the end-to-end runs carry no tracing cost."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "start": time.time()}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed elsewhere (e.g. in a Spark callback)."""
        if not self.enabled:
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "start": start, "end": end}
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _pss_bytes(pid: str) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked children (Python workers,
    short-lived helpers the JVM forks) are not counted twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_memory(root_pid: int) -> dict[int, tuple[str, int]]:
    """Command name and proportional set size of ``root_pid`` and all
    its descendants."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
        names[int(d)] = stat[stat.index("(") + 1 : stat.rindex(")")]
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            tree[pid] = (names.get(pid, "?"), _pss_bytes(str(pid)))
        except OSError:
            pass  # ended while we looked
        todo.extend(children.get(pid, ()))
    return tree


class MemorySampler:
    """Samples the resident memory of this process tree (the Spark JVM
    and its Python workers included) on a background thread and keeps
    the peak of its sum."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak = 0
        self.peak_tree: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            tree = _tree_memory(pid)
            total = sum(r for _, r in tree.values())
            if total > self.peak:
                self.peak, self.peak_tree = total, tree
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
