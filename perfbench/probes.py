"""Outside-in counters: worker peak RSS from /proc, Spark job/task counts
from the StatusTracker, and a host record with a Spark-free CPU
calibration. None of these change what the engine executes."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import sys
import threading
import time
from typing import Dict, Iterable, List, Optional


def _ppid_map() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields resume after the last ')'
        fields = stat[stat.rindex(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> List[int]:
    ppid = _ppid_map()
    kids: Dict[int, List[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _hwm_kb(pid: int) -> Optional[int]:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current RSS
    except OSError:
        pass


class RssProbe:
    """Peak RSS (VmHWM) of the processes doing the per-document work.

    `python_workers=True`: the PySpark Python workers, i.e. every Python
    process below the JVM (the pyspark daemon and the workers it forks).
    `python_workers=False`: the JVM itself, which is the executor in
    local mode. A sampler thread reads VmHWM every `interval` seconds so
    a worker that exits mid-run is still counted."""

    def __init__(self, jvm_pid: int, python_workers: bool,
                 interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.python_workers = python_workers
        self.interval = interval
        self._peak: Dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _pids(self) -> Iterable[int]:
        if not self.python_workers:
            return [self.jvm_pid]
        pids = []
        for p in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().startswith("python"):
                        pids.append(p)
            except OSError:
                continue
        return pids

    def _sample(self) -> None:
        for p in self._pids():
            kb = _hwm_kb(p)
            if kb is not None and kb > self._peak.get(p, 0):
                self._peak[p] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        for p in self._pids():
            _reset_hwm(p)
        self._peak = {}
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Peak RSS in MB of any one watched process since start()."""
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return max(self._peak.values(), default=0) / 1024.0


class JobCounter:
    """Spark jobs / tasks / failed tasks per job group, via StatusTracker."""

    def __init__(self, sc):
        self.sc = sc

    def set_group(self, group: Optional[str]) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> Dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def cpu_steal_ticks() -> tuple:
    """(steal, total) jiffies over all CPUs from /proc/stat: on a VM,
    time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pids: Iterable[int]) -> float:
    """User + system CPU seconds of the given processes and every process
    below them, children they have already reaped included."""
    pids = set()
    for r in root_pids:
        pids.add(r)
        pids.update(descendants(r))
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _spin(n: int) -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return time.perf_counter() - t


class HostSpeed:
    """How fast the host runs right now: a fixed pure-Python loop timed on
    every core at once, in a pool of worker processes forked before Spark
    starts. `sample_ms` is the mean time of one loop; REF_MS is that time
    on the 4-vCPU VM the benchmark was sized on, so REF_MS / sample_ms is
    the host's speed relative to that VM."""

    REF_MS = 150.0

    def __init__(self, nproc: int, loops: int = 1_500_000):
        import multiprocessing

        self.nproc = nproc
        self.loops = loops
        self.pool = multiprocessing.get_context("fork").Pool(nproc)

    def sample_ms(self) -> float:
        return statistics.mean(
            self.pool.map(_spin, [self.loops] * self.nproc, chunksize=1)) * 1e3

    def close(self) -> None:
        self.pool.close()
        self.pool.join()


def cpu_calibration_ms(repeats: int = 3) -> float:
    """Median wall of a fixed Spark-free CPU task: a pure-Python loop
    plus sha256 over 8 MB. Compare it across results to see host drift."""
    blob = bytes(range(256)) * (8 << 12)
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        hashlib.sha256(blob).digest()
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def host_record(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "platform": platform.platform(),
        "loadavg_1m": os.getloadavg()[0],
        "cpu_calibration_ms": cpu_calibration_ms(),
    }
