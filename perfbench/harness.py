"""Shared machinery: the run's scratch directories, session shutdown,
the closed client loop, percentiles, peak memory, engine counters read
from Spark's status store, and the environment record.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(HERE, ".work")


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout.  Must run before the JVM starts.  Library defaults are
    left alone; only scratch locations are set."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK_DIR, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    import tempfile

    tempfile.tempdir = tmp


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cleanup() -> None:
    shutil.rmtree(WORK_DIR, ignore_errors=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    s = sorted(values)
    if not s:
        return 0.0
    k = max(1, -(-len(s) * q // 100))  # ceil
    return s[int(k) - 1]


# ---------------------------------------------------------------------------
# closed loop
# ---------------------------------------------------------------------------

@dataclass
class OpRecord:
    index: int
    start: float
    end: float
    digest: str | None = None  # canonical result hash, None when raised
    error: str | None = None  # error class when the call raised
    key: object = None  # set by the workload: what the oracle recomputes
    verdict: str = "pending"  # ok / wrong / raised

    @property
    def latency(self) -> float:
        return self.end - self.start


def closed_loop(n_clients: int, op, seconds: float = float("inf"),
                ops: range = range(1 << 62)) -> tuple[list[OpRecord], float]:
    """Run ``n_clients`` threads, each sending its next op as soon as the
    previous one returns, until ``seconds`` have passed or the indices in
    ``ops`` run out.  ``op(index)`` returns the result digest or raises.
    Returns the records and the wall time from the first send to the last
    reply."""
    records: list[OpRecord] = []
    lock = threading.Lock()
    counter = iter(ops)
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = next(counter, None)
            if i is None:
                return
            start = time.perf_counter()
            digest = error = None
            try:
                digest = op(i)
            except Exception as e:  # the op's failure is the measurement
                error = error_class(e)
            rec = OpRecord(i, start, time.perf_counter(), digest, error)
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, daemon=True) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = max((r.end for r in records), default=t0) - t0
    records.sort(key=lambda r: r.index)
    return records, wall


def error_class(e: BaseException) -> str:
    """Spark's error class (``TABLE_OR_VIEW_NOT_FOUND`` ...) when the
    message carries one, else the exception type."""
    msg = str(e)
    if msg.startswith("[") and "]" in msg:
        return msg[1:msg.index("]")].split(".")[0]
    cause = e.__cause__
    if cause is not None and cause is not e:
        inner = error_class(cause)
        if inner != type(cause).__name__:
            return inner
    return type(e).__name__


# ---------------------------------------------------------------------------
# memory, CPU and environment
# ---------------------------------------------------------------------------

def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def _status_kb(pid, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    return (_status_kb("self", "VmHWM") + _status_kb(jvm_pid(spark), "VmHWM")) / 1024.0


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


class EnvProbe:
    """CPU steal share and load average over the measured window."""

    def __init__(self) -> None:
        self.total0, self.steal0 = _cpu_jiffies()
        self.load0 = os.getloadavg()

    def record(self, spark) -> dict:
        total, steal = _cpu_jiffies()
        d_total = max(1, total - self.total0)
        sc = spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_graft_local_dir": os.environ.get("SPARK_GRAFT_LOCAL_DIR"),
            "cpu_steal_pct": round(100.0 * (steal - self.steal0) / d_total, 2),
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "spark_version": spark.version,
        }


# ---------------------------------------------------------------------------
# engine counters (status store, read from outside the program)
# ---------------------------------------------------------------------------

@dataclass
class EngineSnapshot:
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    tasks: int = 0
    memory_used: int = 0
    max_job_id: int = -1


def engine_snapshot(spark) -> EngineSnapshot:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    snap = EngineSnapshot()
    execs = store.executorList(True)
    for i in range(execs.size()):
        e = execs.apply(i)
        snap.gc_ms += e.totalGCTime()
        snap.input_bytes += e.totalInputBytes()
        snap.shuffle_read += e.totalShuffleRead()
        snap.shuffle_write += e.totalShuffleWrite()
        snap.tasks += e.totalTasks()
        snap.memory_used += e.memoryUsed()
    snap.max_job_id = max(sc.statusTracker().getJobIdsForGroup(None) or [-1])
    return snap


def stage_totals(spark, after_stage_id: int = -1) -> dict:
    """Run time, CPU time and spill summed over the retained stages newer
    than ``after_stage_id``, and the newest stage id: ids are sequential,
    so id deltas count stages run even after old stages are dropped from
    the store.  One py4j round trip per field read."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), None
    )
    out = {"run_ms": 0, "cpu_ns": 0, "spill_disk": 0, "max_stage_id": -1}
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        out["max_stage_id"] = max(out["max_stage_id"], sid)
        if sid > after_stage_id:
            out["run_ms"] += s.executorRunTime()
            out["cpu_ns"] += s.executorCpuTime()
            out["spill_disk"] += s.diskBytesSpilled()
    return out
