"""Process memory and engine counters, read from outside the program.

``RssSampler`` sums the resident memory of this process and every process
it started (the Spark JVM, the Python worker daemon and its workers) by
reading ``/proc``, and keeps the peak that lasts at least two samples: a
child the JVM forks reports the JVM's memory until it execs, so a single
sample can count the JVM twice (one did, 2.3 GB higher than the samples
around it). ``live_heap_bytes`` is the driver JVM's heap in use after full
collections. ``stage_totals`` reads Spark's
status store (it answers with the UI disabled) for the stages completed
after a given stage id.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Background thread: peak summed RSS of this process tree, over values
    that hold for two samples in a row."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            now = tree_rss_bytes(me)
            self.peak = max(self.peak, min(now, self._last))
            self._last = now

    def reset(self) -> None:
        self.peak = self._last = tree_rss_bytes(os.getpid())

    def __enter__(self) -> "RssSampler":
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def live_heap_bytes(spark) -> int:
    """Heap the driver JVM keeps live: used bytes of the old generation
    after full collections, repeated until two in a row agree within 1 MB.
    A collection lets Spark's cleaner drop the blocks of unreachable
    broadcasts and shuffles, in the background; the next collection frees
    them (one collection read 150 MB where the next read 88 MB). The young
    generation only holds what was allocated since. The heap is committed
    at its maximum from the start, so resident memory does not show how
    much of it the program uses."""
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    old = [p for p in (pools.get(i) for i in range(pools.size()))
           if p.getType().name() == "HEAP" and not any(y in p.getName() for y in ("Eden", "Survivor"))]
    last = None
    for _ in range(6):
        jvm.java.lang.System.gc()
        used = sum(p.getUsage().getUsed() for p in old)
        if last is not None and abs(used - last) < (1 << 20):
            break
        last = used
        time.sleep(0.5)
    return used


def last_stage_id(spark) -> int:
    ids = [s["id"] for s in _stages(spark)]
    return max(ids, default=-1)


def _stages(spark) -> list[dict]:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    seq = store.stageList(None, False, False, empty, None)
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        sub, done = s.submissionTime(), s.completionTime()
        out.append({
            "id": s.stageId(),
            "tasks": s.numTasks(),
            "task_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "wall_ms": (done.get().getTime() - sub.get().getTime())
            if sub.isDefined() and done.isDefined() else 0,
        })
    return out


def stage_totals(spark, after_id: int) -> dict[str, float]:
    """Sums over the stages with id > ``after_id`` (one run's delta)."""
    st = [s for s in _stages(spark) if s["id"] > after_id]
    mb = 1 << 20
    return {
        "tasks": sum(s["tasks"] for s in st),
        "task_s": sum(s["task_ms"] for s in st) / 1e3,
        "cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in st) / mb,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in st) / mb,
        "spill_mb": sum(s["spill"] for s in st) / mb,
        "serial_stage_s": sum(s["wall_ms"] for s in st if s["tasks"] == 1) / 1e3,
    }


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    continue
    return total
