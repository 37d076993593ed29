"""Measurements taken from outside the engine.

- :class:`SparkCounters` reads Spark's own scheduler and status store
  (job-id deltas, per-stage task time, shuffle and spill bytes).
- :class:`RssSampler` samples the resident memory of this process and
  every descendant (driver JVM, Python workers) from ``/proc``.
- :func:`host_snapshot` records CPU steal and load average, so a run
  polluted by a noisy neighbour shows in its record.
- :func:`tree_stats` / :func:`written_since` measure bytes on disk.
"""

from __future__ import annotations

import os
import threading
import time

POLLUTED_STEAL = 0.02
DRAIN_TIMEOUT_MS = 10_000


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident set: a page shared by N processes counts 1/N
    in each, so a forked worker's pages are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Peak resident memory of this process tree (summed PSS), sampled
    every ``period`` s; ``at_peak`` is the per-command breakdown (MB) of
    the peak sample."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = {p: _pss_bytes(p) for p in [me, *descendants(me)]}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {}
                for p, b in sizes.items():
                    name = "driver" if p == me else _comm(p)
                    self.at_peak[name] = round(self.at_peak.get(name, 0) + b / 2**20, 1)
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_snapshot() -> dict:
    """Cumulative CPU jiffies (incl. steal) and the load average."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"t": time.time(), "cpu": cpu, "loadavg": load}


def host_delta(a: dict, b: dict) -> dict:
    """Steal share of all CPU time between two snapshots, plus load."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d[:8]) or 1
    steal = d[7] / total if len(d) > 7 else 0.0
    return {
        "steal_frac": round(steal, 5),
        # another tenant took enough CPU to slow this run visibly
        "polluted": steal > POLLUTED_STEAL,
        "busy_frac": round(1 - (d[3] + d[4]) / total, 4),
        "loadavg_start": a["loadavg"],
        "loadavg_end": b["loadavg"],
    }


def tree_stats(root: str) -> dict[str, tuple[int, int]]:
    """{file path: (size, mtime_ns)} for every regular file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or rewritten between two snapshots."""
    new = [v[0] for p, v in after.items() if before.get(p) != v]
    return sum(new), len(new)


def data_bytes(stats: dict[str, tuple[int, int]]) -> int:
    """Bytes of data files, ignoring checksums and commit markers."""
    return sum(
        size for p, (size, _) in stats.items()
        if not os.path.basename(p).startswith((".", "_"))
    )


class SparkCounters:
    """Spark's own job and stage accounting, read around each op.

    Job ids come from ``DAGScheduler.nextJobId``, which counts every job
    submitted by any thread.  Stage figures come from the status store,
    which keeps a bounded number of jobs and stages: an op whose jobs or
    stages were evicted, or whose events were still undelivered after
    ``DRAIN_TIMEOUT_MS``, reports those figures as missing, never as zero.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.slots = self.sc.defaultParallelism

    def next_job_id(self) -> int:
        v = self.jsc.dagScheduler().nextJobId()
        return v if isinstance(v, int) else v.get()

    def drain(self) -> bool:
        """Wait until the listener bus has delivered every event posted so
        far.  The status store is filled from that bus asynchronously, so
        it lags the action that posted the events; False on a timeout."""
        try:
            self.jsc.listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)
        except Exception as e:  # py4j TimeoutException
            if "Timeout" not in str(e):
                raise
            return False
        return True

    def cached_bytes(self) -> int | None:
        if not self.drain():
            return None
        return sum(
            i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo()
        )

    def jobs_detail(self, first: int, end: int) -> dict:
        """Stage and task totals over job ids ``[first, end)``."""
        if not self.drain():
            return {"jobs": end - first, "missing": True}
        store = self.jsc.statusStore()
        out = {
            "jobs": end - first, "stages": 0, "tasks": 0, "task_s": 0.0,
            "task_cpu_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "spill_b": 0, "input_b": 0, "output_b": 0,
        }
        seen = set()
        try:
            for jid in range(first, end):
                ids = store.job(jid).stageIds()
                for sid in (ids.apply(i) for i in range(ids.size())):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["task_s"] += sd.executorRunTime() / 1e3
                    out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_read_b"] += (
                        sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
                    )
                    out["shuffle_write_b"] += sd.shuffleWriteBytes()
                    out["spill_b"] += sd.diskBytesSpilled()
                    out["input_b"] += sd.inputBytes()
                    out["output_b"] += sd.outputBytes()
        except Exception as e:  # py4j NoSuchElementException: evicted
            if "NoSuchElement" not in str(e):
                raise
            return {"jobs": end - first, "missing": True}
        return out
