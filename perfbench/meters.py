"""Meters read outside the program: Spark's status store and /proc.

``StatusMeter`` turns the application status store (Spark's internal
record of finished jobs and stages) into per-interval deltas. The
store is fed by a listener that runs asynchronously on the listener
bus, so every read first drains the bus; without that a read right
after an action misses the stages that just finished and the next
interval is charged for them.

``ProcMeter`` reads CPU time, resident memory and bytes written to
storage for the benchmark's worker process, the JVM it launched and
the JVM's Python workers, from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")

# StageData accessor -> field of StageTotals (times in the units Spark
# records them: run/gc time in ms, cpu time in ns)
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "task_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "inputBytes": "input_bytes",
    "inputRecords": "input_rows",
}


@dataclass
class Job:
    job_id: int
    start: float  # wall-clock seconds
    end: float
    stage_ids: list[int]


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    disk_spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Interval:
    """Jobs and stage totals that finished between two reads."""

    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, StageTotals] = field(default_factory=dict)

    def totals(self, jobs: list[Job]) -> StageTotals:
        """Stage totals of ``jobs``; a stage shared by two jobs counts once."""
        out = StageTotals()
        for sid in {s for j in jobs for s in j.stage_ids}:
            st = self.stages.get(sid)
            if st is not None:
                out.add(st)
        return out

    def jobs_within(self, start: float, end: float) -> list[Job]:
        # status-store times have millisecond resolution
        return [j for j in self.jobs if j.start >= start - 0.001 and j.end <= end + 0.001]


class StatusMeter:
    """Reads jobs and stages completed since the previous read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._scala_sc = sc._jsc.sc()
        self._store = self._scala_sc.statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        self.read()  # everything before construction belongs to nobody

    def _drain(self) -> None:
        self._scala_sc.listenerBus().waitUntilEmpty()

    def read(self) -> Interval:
        self._drain()
        jvm = self._jvm
        out = Interval()
        jobs = self._store.jobsList(jvm.java.util.ArrayList()).iterator()
        while jobs.hasNext():
            j = jobs.next()
            jid = j.jobId()
            if jid in self._seen_jobs or j.completionTime().isEmpty():
                continue
            self._seen_jobs.add(jid)
            sub = j.submissionTime()
            end = j.completionTime().get().getTime() / 1000.0
            start = sub.get().getTime() / 1000.0 if not sub.isEmpty() else end
            ids = j.stageIds()  # a Scala Seq
            out.jobs.append(Job(jid, start, end, [ids.apply(i) for i in range(ids.length())]))
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            jvm.java.util.ArrayList(),
        ).iterator()
        while stages.hasNext():
            s = stages.next()
            status = s.status().toString()
            if status not in ("COMPLETE", "FAILED", "SKIPPED"):
                continue
            key = s.stageId() * 1000 + s.attemptId()
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            st = StageTotals(stages=1 if status != "SKIPPED" else 0)
            if status != "SKIPPED":
                for acc, name in _STAGE_FIELDS.items():
                    setattr(st, name, int(getattr(s, acc)()))
            prev = out.stages.get(s.stageId())
            if prev is None:
                out.stages[s.stageId()] = st
            else:
                prev.add(st)
        return out


def busy_seconds(jobs: list[Job], start: float, end: float) -> float:
    """Length of the union of job intervals clipped to [start, end]."""
    spans = sorted(
        (max(j.start, start), min(j.end, end)) for j in jobs if j.end > start and j.start < end
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def dir_mb(path: str) -> float:
    """Size of every file under ``path``, in MB."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def _children_of(pid: int) -> list[int]:
    """Direct children of ``pid`` (one ``children`` file per thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        text = _read(f"/proc/{pid}/task/{tid}/children")
        if text:
            out.extend(int(x) for x in text.split())
    return out


def _comm(pid: int) -> str:
    return (_read(f"/proc/{pid}/comm") or "").strip()


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _cpu_s(pid: int) -> float:
    stat = _read(f"/proc/{pid}/stat")
    if stat is None:
        return 0.0
    fields = stat.rsplit(")", 1)[1].split()
    # utime + stime (fields 14-15); reaped children are left out, since
    # the pyspark daemon reaps the workers this meter already counts
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def _rss_mb(pid: int) -> float:
    statm = _read(f"/proc/{pid}/statm")
    if statm is None:
        return 0.0
    return int(statm.split()[1]) * os.sysconf("SC_PAGE_SIZE") / MB


def _write_bytes(pid: int) -> int:
    io = _read(f"/proc/{pid}/io")
    if io is None:
        return 0
    for line in io.splitlines():
        if line.startswith("write_bytes:"):
            return int(line.split()[1])
    return 0


@dataclass
class ProcSample:
    driver_cpu_s: float
    jvm_cpu_s: float
    workers_cpu_s: float
    write_bytes: int
    steal_s: float  # whole machine: time its CPUs waited for the host


def _steal_s() -> float:
    line = (_read("/proc/stat") or "cpu").splitlines()[0].split()
    return int(line[8]) / _CLK_TCK if len(line) > 8 else 0.0


class ProcMeter:
    """CPU and storage writes of this process (the one holding the
    SparkSession), its JVM and the Python workers, and the peak of their
    summed RSS, sampled by a background thread.

    The JVM is this process's ``java`` child; the Python workers are the
    JVM's Python children (the pyspark daemon) and theirs. The JVM's
    threads are rescanned for new daemons at most once a second, since
    each scan reads one file per JVM thread.
    """

    def __init__(self, interval_s: float = 0.1):
        self.pid = os.getpid()
        self._peak = 0.0
        self._jvm: int | None = None
        self._daemons: list[int] = []
        self._scanned_at = 0.0
        # exited workers' counters, so the cumulative totals never drop
        self._gone_cpu = 0.0
        self._gone_write = 0
        self._last: dict[int, tuple[float, int]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._interval_s = interval_s
        self._thread = threading.Thread(target=self._sample_loop, daemon=True)

    def start(self) -> "ProcMeter":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> float:
        """Peak summed RSS (MB) since the previous call."""
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def _tree(self) -> tuple[int | None, list[int]]:
        now = time.monotonic()
        if self._jvm is None or not os.path.exists(f"/proc/{self._jvm}"):
            self._jvm = next(
                (p for p in _children_of(self.pid) if _comm(p) == "java"), None
            )
        if self._jvm is not None and (
            now - self._scanned_at > 1.0
            or not all(os.path.exists(f"/proc/{d}") for d in self._daemons)
        ):
            self._scanned_at = now
            self._daemons = [
                p for p in _children_of(self._jvm) if _comm(p).startswith("python")
            ]
        workers = list(self._daemons)
        for d in self._daemons:
            workers.extend(_children_of(d))
        return self._jvm, workers

    def _sample_loop(self) -> None:
        while not self._stop.wait(self._interval_s):
            jvm, workers = self._tree()
            rss = _rss_mb(self.pid) + sum(_rss_mb(p) for p in [jvm, *workers] if p)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._track(workers)

    def _track(self, workers: list[int]) -> None:
        now = {p: (_cpu_s(p), _write_bytes(p)) for p in workers}
        with self._lock:
            for p, (cpu, wb) in self._last.items():
                if p not in now or now[p] == (0.0, 0):
                    self._gone_cpu += cpu
                    self._gone_write += wb
            self._last = {p: v for p, v in now.items() if v != (0.0, 0)}

    def sample(self) -> ProcSample:
        jvm, workers = self._tree()
        self._track(workers)
        with self._lock:
            w_cpu = self._gone_cpu + sum(c for c, _ in self._last.values())
            w_write = self._gone_write + sum(b for _, b in self._last.values())
        return ProcSample(
            driver_cpu_s=_cpu_s(self.pid),
            jvm_cpu_s=_cpu_s(jvm) if jvm else 0.0,
            workers_cpu_s=w_cpu,
            write_bytes=_write_bytes(self.pid)
            + (_write_bytes(jvm) if jvm else 0)
            + w_write,
            steal_s=_steal_s(),
        )
