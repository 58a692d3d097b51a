"""Counters read from outside the program: Spark's status stores and /proc.

``StageWindow`` diffs Spark's own status store (which is populated with
``spark.ui.enabled=false``) around a measured window: stages, tasks,
executor CPU, GC, shuffle and spill bytes, job intervals, and the
MapInPandas byte counts of the SQL status store. ``PssSampler`` samples
the memory of this process and every process it started (the Spark JVM
and its Python workers) from ``/proc``, ``tree_cpu_s`` their CPU time, ``jit_threads`` the JVM's
JIT compiler threads (whose CPU the benchmark reports apart), and
``cpu_ticks`` the machine's busy and stolen CPU time.
"""

from __future__ import annotations

import os
import re
import threading
import time

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_SIZE_RE = re.compile(r"\n([\d.,]+) (B|KiB|MiB|GiB|TiB) \(")


def _size_total(formatted: str) -> float:
    """Total of a formatted SQL size metric ("total (min, med, max ...)
    \\n8.8 KiB (...)"): three significant digits, as Spark renders it."""
    m = _SIZE_RE.search(formatted)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StageWindow:
    """Spark counters of every stage, job and SQL execution that started
    after ``__init__`` and completed before ``close``."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stages0 = self._stage_ids()
        self._jobs0 = self._job_ids()
        self._execs0 = self._exec_ids()

    def _doubles(self, values):
        arr = self._gw.new_array(self._gw.jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._doubles([]),
                                    None)
        return [seq.apply(i) for i in range(seq.size())]

    def _stage_ids(self) -> set:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def _jobs(self):
        seq = self._store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> set:
        return {j.jobId() for j in self._jobs()}

    def _execs(self):
        seq = self._sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def _exec_ids(self) -> set:
        return {e.executionId() for e in self._execs()}

    def close(self) -> dict:
        """Counters summed over the window, plus the job intervals
        (epoch ms) for splitting op time into job and driver time."""
        new = [s for s in self._stages()
               if (s.stageId(), s.attemptId()) not in self._stages0]
        out = {
            "stages": len(new),
            "tasks": sum(s.numTasks() for s in new),
            "executor_run_s": sum(s.executorRunTime() for s in new) / 1e3,
            "executor_cpu_s": sum(s.executorCpuTime() for s in new) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in new) / 1e3,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in new),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in new),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                               for s in new),
            "input_bytes": sum(s.inputBytes() for s in new),
            "output_bytes": sum(s.outputBytes() for s in new),
        }
        out["task_skew"] = self._task_skew(new)
        jobs = [j for j in self._jobs() if j.jobId() not in self._jobs0]
        out["jobs"] = len(jobs)
        out["job_intervals_ms"] = [
            (j.submissionTime().get().getTime(),
             j.completionTime().get().getTime())
            for j in jobs
            if j.submissionTime().isDefined() and j.completionTime().isDefined()
        ]
        out.update(self._python_bytes())
        return out

    def _task_skew(self, stages) -> float:
        """max / median task run time of the window's busiest stage."""
        if not stages:
            return 1.0
        top = max(stages, key=lambda s: s.executorRunTime())
        dist = self._store.taskSummary(top.stageId(), top.attemptId(),
                                       self._doubles([0.5, 1.0]))
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _python_bytes(self) -> dict:
        sent = returned = 0.0
        for e in self._execs():
            if e.executionId() in self._execs0:
                continue
            values = self._sql.executionMetrics(e.executionId())
            seen = set()
            metrics = e.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                name = m.name()
                if m.accumulatorId() in seen or "Python workers" not in name:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if name == "data sent to Python workers":
                    sent += _size_total(v.get())
                elif name == "data returned from Python workers":
                    returned += _size_total(v.get())
        return {"python_bytes_sent": sent, "python_bytes_returned": returned}


def job_covered_ms(op_intervals_ms, job_intervals_ms) -> float:
    """Milliseconds of the op intervals during which some Spark job ran."""
    merged = []
    for a, b in sorted(job_intervals_ms):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    total = 0.0
    for lo, hi in op_intervals_ms:
        for a, b in merged:
            total += max(0.0, min(hi, b) - max(lo, a))
    return total


def _tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (those after the command name) of
    ``root`` and of every process it started, directly or not."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_clock(pid: int) -> int:
    """Id of the kernel's CPU-time clock (ns; stolen time excluded) of
    process ``pid``, all its threads, exited ones included."""
    return ((~pid) << 3) | 2


def tree_cpu_s() -> float:
    """CPU seconds used by this process tree: the CPU-time clock of every
    live process, plus the children each has reaped (Spark's Python
    workers are forked and reaped by its daemon; in clock ticks)."""
    total = 0.0
    for pid, fields in _tree(os.getpid()).items():
        try:
            total += time.clock_gettime(_cpu_clock(pid))
        except OSError:  # exited since the scan
            continue
        total += (int(fields[13]) + int(fields[14])) / os.sysconf(
            "SC_CLK_TCK")
    return total


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy + stolen) clock ticks of all CPUs so far. Stolen time
    is time a virtual CPU wanted to run while the host ran something else;
    it is in no process's CPU time."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


# HotSpot's JIT compiler and code-cache sweeper threads, by the names the
# kernel shows (truncated to 15 characters). The benchmark launches the
# JVM with -XX:-UseDynamicNumberOfCompilerThreads, so they live as long
# as the JVM.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_threads() -> list[str]:
    """``/proc`` schedstat paths of the JIT threads of this process
    tree."""
    out = []
    for pid in _tree(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                out.append(f"/proc/{pid}/task/{tid}/schedstat")
    return out


def threads_cpu_s(paths) -> float:
    """CPU seconds of the threads whose schedstat files are ``paths``
    (the first field is the time on a CPU in ns, as the CPU-time clock)."""
    total = 0
    for p in paths:
        try:
            with open(p) as f:
                total += int(f.read().split()[0])
        except OSError:
            continue
    return total / 1e9


def wait_jit_idle(quiet_s: float = 0.5, timeout_s: float = 10.0) -> float:
    """Wait until the JIT threads use under 2% of a CPU over ``quiet_s``,
    so the compilations a warm-up queued are done however busy the machine
    was; at most ``timeout_s``. Returns the seconds waited."""
    paths = jit_threads()
    t0 = time.perf_counter()
    used = threads_cpu_s(paths)
    while time.perf_counter() - t0 < timeout_s:
        time.sleep(quiet_s)
        now = threads_cpu_s(paths)
        if now - used < 0.02 * quiet_s:
            break
        used = now
    return time.perf_counter() - t0


def tree_pss_bytes() -> int:
    """Proportional set size of this process tree: pages shared between
    processes (the Python workers are forks of one daemon) count once."""
    return sum(_pss_bytes(p) for p in _tree(os.getpid()))


class PssSampler:
    """Peak memory of this process tree, sampled on a thread; ``cpu_s`` is
    the CPU time the sampling cost."""

    # one smaps_rollup read of a multi-GiB JVM costs ~15 ms of kernel time
    # under its memory-map lock, so sample sparsely
    def __init__(self, interval_s: float = 1.0):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak = 0
        self.cpu_s = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self.cpu_s = time.thread_time()
            self._stop.wait(self._interval)

    def __enter__(self) -> PssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())


def now_ms() -> float:
    return time.time() * 1e3
