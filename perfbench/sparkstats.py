"""Readers the benchmark takes its engine-level numbers from.

``StatusStore`` reads per-job-group counters out of Spark's application
status store. The store is fed by the listener bus whether or not the
web UI runs, so this works with ``spark.ui.enabled=false``.

``OldGenPeak`` reads the peak use of the JVM's old-generation heap pool,
where what outlives a few collections lands: cached and persisted
frames, broadcast tables, long-lived buffers.

``RssSampler`` samples the resident memory of the driver JVM plus the
Python processes under it (the daemon and its workers) from ``/proc``;
psutil is not needed. Other children of the JVM are left out: they are
short-lived helpers (the local filesystem's shell calls), and right
after the fork /proc reports the JVM's whole address space for them.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = self._sc._jvm
        self._no_filter = jvm.java.util.ArrayList()
        self._no_q = self._sc._gateway.new_array(jvm.double, 0)
        self._q = self._sc._gateway.new_array(jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def job_ids(self, group: str) -> list[int]:
        """Jobs tagged with ``group``. Drains the listener bus first, so
        every job that has finished is in the store."""
        self._bus.waitUntilEmpty()
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def summarize(self, job_ids: list[int]) -> dict:
        """Counters over the given jobs. Skipped stages (shuffle output
        reused from an earlier job) are not counted. ``task_skew`` is
        max/median task run time of the stage with the longest task;
        ``read_task_skew`` the same over the stages that read a shuffle."""
        out = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "task_skew": 0.0,
            "job_wall_s": 0.0, "read_task_skew": 0.0,
        }
        seen: set[int] = set()
        longest = longest_read = -1.0
        for j in job_ids:
            jd = self._store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["job_wall_s"] += (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                ) / 1000.0
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.stageAttempt(
                    sid, 0, False, self._no_filter, False, self._no_q
                )._1()
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                summ = self._store.taskSummary(sid, 0, self._q)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    med, mx = float(run.apply(0)), float(run.apply(1))
                    if mx > longest:
                        longest = mx
                        out["task_skew"] = mx / max(med, 1.0)
                    if sd.shuffleReadBytes() and mx > longest_read:
                        longest_read = mx
                        out["read_task_skew"] = mx / max(med, 1.0)
        return out


class OldGenPeak:
    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pool = next(
            p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())
        )

    def reset(self) -> None:
        self._pool.resetPeakUsage()

    def peak_mb(self) -> float:
        """Peak used MB since the last ``reset()``."""
        return self._pool.getPeakUsage().getUsed() / 2**20


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; fields restart after its ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            if pid != root:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited while sampled
    return total


class RssSampler:
    """Background thread keeping the peak summed RSS of the JVM and its
    Python descendants since the last ``reset()``."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self._root = root_pid
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(self._root)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self._root)

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"  # a zombie has ended


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive
