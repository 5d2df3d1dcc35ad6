"""In-memory spans and process-tree resource readings for one benchmark run.

A span is ``(id, name, start, end, parent, run)``: the benchmark opens
one around each call it makes into a layer of ``courlan_spark``.  Spans
stay in memory and are written out once, when the run ends.  When a
SparkContext is attached, the innermost span's id is also set as the
``bench.span`` local property, so the Spark event log names the span
that submitted each job (jobs submitted from the program's own worker
threads carry no tag and are attributed by time instead, see
``eventlog.attribute``).

``ProcTree`` reads CPU time and resident memory of this process and
every descendant (the Spark JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "bench.span"


class Tracer:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context

    def attach(self, spark_context) -> None:
        "Tag the jobs of later spans with their span id."
        self._sc = spark_context

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its dict, so callers can add
        attributes (row counts, outcomes) before it closes."""
        record = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        self._tag(str(record["id"]))
        try:
            yield record
        finally:
            record["end"] = time.time()
            self._stack.pop()
            self._tag(str(self._stack[-1]) if self._stack else None)

    def _tag(self, value: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, value)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_time(spans: list[dict], span: dict) -> float:
    "A span's duration minus the part of it its child spans cover."
    children = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == span["id"]
    )
    covered, cursor = 0.0, span["start"]
    for start, end in children:
        start = max(start, cursor)
        if end > start:
            covered += end - start
            cursor = end
    return (span["end"] - span["start"]) - covered


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """This process and all its descendants, found by parent pid."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                fields = _stat_fields(int(entry))
                # fields[0] is the state: an exited, not yet reaped
                # process ("Z") holds no resources
                if fields is not None and fields[0] != "Z":
                    parent[int(entry)] = int(fields[1])
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def descendants(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree, plus the
        reaped children's times their parents absorbed (cutime+cstime),
        so a worker that exits mid-run keeps its CPU in the total."""
        ticks = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields is not None:
                # fields[11:15] = utime, stime, cutime, cstime
                ticks += sum(int(f) for f in fields[11:15])
        return ticks / _CLK_TCK

    def rss_mb(self) -> float:
        pages = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    pages += int(fh.read().split()[1])
            except OSError:
                continue
        return pages * _PAGE / 2**20


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot: the share
    of time a hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


class PeakRss:
    """Background sampler of the tree's RSS while the context is open."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
