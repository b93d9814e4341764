"""Spans around calls into the program's layers, and the memory sampler.

Spans are recorded only from the benchmark's own files, never inside
the program: each has a name, start, end and parent id, all spans of
one pass share a trace id, and they stay in memory until the run ends.
When the tracer is enabled, a span also labels the Spark jobs it starts
(``setJobDescription``) so the event log can attribute stages to it.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str]] = []
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the body; the returned dict gets ``s`` (seconds) on exit,
        whether or not tracing is on."""
        rec = {"name": name}
        if self.enabled:
            rec.update(id=next(self._ids), parent=self._stack[-1][0] if self._stack else None,
                       trace=self.trace_id)
            self._stack.append((rec["id"], name))
            if self.spark is not None:
                self.spark.sparkContext.setJobDescription(name)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["s"] = end - start
            if self.enabled:
                rec.update(start=start, end=end)
                self._stack.pop()
                self.spans.append(rec)
                if self.spark is not None:
                    # jobs after this span belong to the enclosing one
                    self.spark.sparkContext.setJobDescription(
                        self._stack[-1][1] if self._stack else None
                    )


class PssSampler:
    """Peak proportional set size (PSS) of this process and all its
    descendants (the JVM and its Python workers), sampled from
    ``/proc/<pid>/smaps_rollup``.  PSS splits each shared page between
    the processes that map it, so forked workers, and a JVM that forks a
    child, do not count their shared pages twice as RSS would.  The
    process tree is rediscovered every ``rescan`` samples."""

    def __init__(self, interval: float = 0.25, rescan: int = 8):
        self.interval = interval
        self.rescan = rescan
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _pss_kb(pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _run(self):
        me = os.getpid()
        tick = 0
        pids = [me]
        while not self._stop.is_set():
            if tick % self.rescan == 0:
                pids = [me] + descendants(me)
            tick += 1
            self.peak_kb = max(self.peak_kb, self._pss_kb(pids))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    stat = fh.read()
                ppid = int(stat[stat.rfind(")") + 2:].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out
