"""Observation of the Spark runtime from outside the program.

Two sources, both read only by the benchmark:

* the Spark event log (``spark.eventLog.enabled``), parsed into jobs,
  stages with their task-metric totals, and streaming micro-batches;
* ``/proc``, for the CPU time and resident memory of the driver JVM and the
  Python workers it forks (``psutil`` is not available).

Jobs and batches are attributed to an operation by the time window they fall
in, not by job group: streaming micro-batches run on the stream thread and
carry no job group of the caller.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")

# task-metric accumulators a completed stage reports (name -> scale to the unit used)
STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 2.0 ** -20),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 2.0 ** -20),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2.0 ** -20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 2.0 ** -20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2.0 ** -20),
}
STAGE_FIELDS = ("task_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb")
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    attempt: int
    tasks: int
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Batch:
    end_ms: int
    duration_s: float


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]
    batches: list[Batch]


def _event_files(path: str) -> list[str]:
    """An event-log file, or every event-log file under a directory."""
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(root, f) for root, _dirs, files in os.walk(path)
                  for f in files if not f.startswith("."))


def _iso_ms(ts: str) -> int:
    from datetime import datetime, timezone

    d = datetime.strptime(ts.rstrip("Z")[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return int(d.replace(tzinfo=timezone.utc).timestamp() * 1000)


def parse_event_log(path: str) -> EventLog:
    """Parse an uncompressed event log into jobs, stages and micro-batches.

    Stage totals come from the task-metric accumulators of each
    ``SparkListenerStageCompleted``. Accumulators are deduplicated by id, so
    an update reported twice (a re-registered accumulator, a repeated stage
    report) counts once; a retried stage attempt replaces the earlier one.
    """
    starts: dict[int, tuple[int, list[int]]] = {}
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    batches: list[Batch] = []
    for fn in _event_files(path):
        with open(fn) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    starts[ev["Job ID"]] = (ev["Submission Time"], list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    sub, sids = starts.pop(ev["Job ID"], (ev["Completion Time"], []))
                    jobs.append(Job(ev["Job ID"], sub, ev["Completion Time"], sids))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid, att = info["Stage ID"], info.get("Stage Attempt ID", 0)
                    prev = stages.get(sid)
                    if prev is not None and prev.attempt > att:
                        continue
                    seen: dict[int, tuple[str, float]] = {}
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in STAGE_METRICS and "Value" in acc:
                            seen[acc["ID"]] = (name, float(acc["Value"]))
                    metrics = dict.fromkeys(STAGE_FIELDS, 0.0)
                    for name, value in seen.values():
                        key, scale = STAGE_METRICS[name]
                        metrics[key] += value * scale
                    stages[sid] = Stage(sid, att, info.get("Number of Tasks", 0), metrics)
                elif kind == PROGRESS_EVENT:
                    prog = ev["progress"]
                    dur = prog.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
                    end = _iso_ms(prog["timestamp"]) + int(dur * 1000)
                    batches.append(Batch(end, dur))
    jobs.sort(key=lambda j: j.submit_ms)
    return EventLog(jobs, stages, batches)


def window_stats(log: EventLog, start_ms: int, end_ms: int) -> dict[str, float]:
    """Spark work whose job was submitted (batch ended) inside ``[start, end)``."""
    out = dict.fromkeys(("jobs", "stages", "tasks", "batches", "batch_s") + STAGE_FIELDS, 0.0)
    for j in log.jobs:
        if start_ms <= j.submit_ms < end_ms:
            out["jobs"] += 1
            for sid in j.stage_ids:
                st = log.stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                out["stages"] += 1
                out["tasks"] += st.tasks
                for k in STAGE_FIELDS:
                    out[k] += st.metrics[k]
    for b in log.batches:
        if start_ms <= b.end_ms <= end_ms:
            out["batches"] += 1
            out["batch_s"] += b.duration_s
    return out


def nojob_s(log: EventLog, start_ms: int, end_ms: int) -> float:
    """Wall time inside the window during which no Spark job was running."""
    busy = 0
    cur_s = cur_e = None
    for j in log.jobs:
        s, e = max(j.submit_ms, start_ms), min(j.end_ms, end_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return (end_ms - start_ms - busy) / 1000.0


# ---- /proc ---------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def _comm(pid) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_s(pid, reaped: bool = True) -> float:
    """utime+stime, plus (``reaped``) the CPU of children this process has
    reaped. ``pid`` may also be ``"<pid>/task/<tid>"``, one thread."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15 if reaped else 13]) / CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def rss_mb(pid: int, key: str = "VmHWM") -> float:
    """Resident memory (``VmRSS``) or its peak (``VmHWM``) in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# JVM threads whose CPU is reported apart: the JIT compilers and the GC
JVM_THREAD_KINDS = (("jit", ("C1 CompilerThre", "C2 CompilerThre")),
                    ("gc", ("GC Thread", "G1 ")))


def _thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """``tid -> (kind, CPU seconds)`` of the JIT and GC threads of ``pid``."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        comm = _comm(f"{pid}/task/{tid}")
        kind = next((k for k, prefixes in JVM_THREAD_KINDS
                     if comm.startswith(prefixes)), None)
        if kind:
            out[int(tid)] = (kind, cpu_s(f"{pid}/task/{tid}", reaped=False))
    return out


@dataclass
class ProcTree:
    """The driver JVM and the Python workers under it, found from our own pid."""

    driver: int
    _jvm: int | None = None
    # last CPU seen of every JIT and GC thread: the JVM ends idle compiler
    # threads, and their CPU must not leave the sums when they go
    _threads: dict = field(default_factory=dict)

    def jvm(self) -> int | None:
        if self._jvm is None:
            self._jvm = next((p for p in descendants(self.driver)
                              if _comm(p) == "java"), None)
        return self._jvm

    def workers(self) -> list[int]:
        jvm = self.jvm()
        if jvm is None:
            return []
        return [p for p in descendants(jvm) if _comm(p).startswith("python")]

    def worker_cpu_s(self) -> float:
        """CPU of the Python workers: the live ones, with the CPU of workers
        that already exited and were reaped by the worker daemon."""
        return sum(cpu_s(p) for p in self.workers())

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: ``all`` of the driver process, the JVM and the
        Python workers together, and of the ``workers``, the JVM's ``jit``
        compiler threads and its ``gc`` threads alone.

        CPU time leaves out the time the hypervisor runs other guests on our
        cores, which wall time on a shared machine does not."""
        jvm = self.jvm()
        out = {"all": cpu_s(self.driver), "workers": self.worker_cpu_s(),
               "jit": 0.0, "gc": 0.0}
        if jvm:
            out["all"] += cpu_s(jvm)
            self._threads.update(_thread_cpu(jvm))
        out["all"] += out["workers"]
        for kind, sec in self._threads.values():
            out[kind] += sec
        return out

    def peak_rss_mb(self) -> dict[str, float]:
        jvm = self.jvm()
        return {
            "driver": rss_mb(self.driver),
            "jvm": rss_mb(jvm) if jvm else 0.0,
            "workers": sum(rss_mb(p) for p in self.workers()),
        }


class RssSampler:
    """Background sampler of the summed resident memory of the Python workers.

    Worker peaks are summed at each sample, so the reported peak is the
    highest memory the workers held at one time.
    """

    def __init__(self, tree: ProcTree, every_s: float = 0.25):
        self.tree = tree
        self.every_s = every_s
        self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.every_s):
            cur = sum(rss_mb(p, "VmRSS") for p in self.tree.workers())
            self.peak_workers_mb = max(self.peak_workers_mb, cur)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until the given processes have exited; kill what outlives the wait."""
    import signal
    import time

    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        alive = [p for p in pids if _state(p) not in ("", "Z")]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def _state(pid: int) -> str:
    """The process state letter, or "" when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return ""


class RuntimeEventLog:
    """Spark's ``EventLoggingListener``, attached to a running context.

    Attaching it after set-up lets one process measure untraced passes first
    and traced passes after them, on the same warm JVM, so the ratio of the
    two is the tracing overhead. The log is written uncompressed to
    ``log_dir``; leaving the block drains the listener bus and closes it.
    """

    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        self.listener = None

    def __enter__(self) -> RuntimeEventLog:
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        os.makedirs(self.log_dir, exist_ok=True)
        uri = jvm.java.net.URI("file://" + os.path.abspath(self.log_dir))
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId, jvm.scala.Option.apply(None), uri, conf,
            jsc.hadoopConfiguration())
        self.listener.start()
        jsc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60000)
        jsc.removeSparkListener(self.listener)
        self.listener.stop()
