"""Session lifecycle, host health and summary statistics shared by the
workloads."""

from __future__ import annotations

import os
import statistics
import time

# run-time SQL confs every benchmark session carries; the engine's own
# defaults come from ``session.configure``
_BASE_CONFS = {
    "spark.ui.enabled": "false",
    "spark.eventLog.enabled": "false",
    # keep every micro-batch's offset/commit/source-log entry: the
    # latency join reads them back after the run
    "spark.sql.streaming.minBatchesToRetain": "100000",
    "spark.sql.streaming.numRecentProgressUpdates": "100000",
}


def ncores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """Cold-starts the engine session the way a job would (JVM launch,
    ``session.configure`` confs, one action) and tears it down fully,
    JVM included, so the next start is cold again."""

    def __init__(self, work: str, traced: bool):
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        self.work = work
        self.traced = traced
        self.spark = None
        self.build_s = None   # getOrCreate: JVM launch + context
        self.ready_s = None   # ... plus the first action

    def start(self):
        from pyspark.sql import SparkSession
        from sparkstreamingproject_spark import session as S

        n = ncores()
        confs = dict(_BASE_CONFS)
        confs["spark.local.dir"] = os.path.join(self.work, "spark-local")
        confs["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")
        confs["spark.sql.warehouse.dir"] = os.path.join(self.work,
                                                        "warehouse")
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": f"file://{log_dir}",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        b = S.configure(SparkSession.builder.master(f"local[{n}]")
                        .appName("perfbench"), shuffle_partitions=n)
        for k, v in confs.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        self.build_s, self.ready_s = t1 - t0, time.perf_counter() - t0
        self.spark = spark
        return spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        return proc.pid if proc else None

    def stop(self) -> None:
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def cold_setups(work: str, k: int, import_s: float):
    """Start the session ``k`` times from a cold JVM and keep the last.
    Returns (session, [setup_s samples], [build_s samples]); each setup
    sample is the import time plus one cold start."""
    setups, builds = [], []
    sess = None
    for _ in range(k):
        if sess is not None:
            sess.stop()
        sess = Session(work, traced=False)
        sess.start()
        setups.append(import_s + sess.ready_s)
        builds.append(sess.build_s)
    return sess, setups, builds


def blocks_held(spark) -> tuple[int, int]:
    """Cached/checkpointed blocks the context holds: (count, bytes)."""
    n = b = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        n += info.numCachedPartitions()
        b += info.memSize() + info.diskSize()
    return n, b


# ---------------------------------------------------------- host health


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Health:
    """Host-side signals that flag a run the shared host pushed off:
    steal share of CPU time over the run, and the 1-minute load."""

    def __init__(self):
        self.cpu0 = _cpu_times()

    def snapshot(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d[:8]) or 1
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {"host.steal_frac": d[7] / total, "host.load1": load1}


# ------------------------------------------------------- process memory


def _status_kb(pid, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(*pids) -> None:
    """Restart the kernel's peak-RSS (VmHWM) count, so the peak covers
    the workload and not input generation."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(*pids) -> float:
    return sum(_status_kb(p, "VmHWM") for p in pids if p) / 1024.0


def live_mb(spark) -> dict:
    """Memory the job still holds: this process's resident set, and the
    JVM's heap in use after a full collection plus its non-heap."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    mx.gc()
    return {"mem.python_rss_mb": _status_kb(os.getpid(), "VmRSS") / 1024.0,
            "mem.jvm_heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "mem.jvm_nonheap_mb":
                mx.getNonHeapMemoryUsage().getUsed() / 2**20}


# ----------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[float, float, int]:
    """The highest percentile that still has at least ten samples above
    it: (value, percentile, samples beyond). With fewer than 11 samples
    it is the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n <= 10:
        return s[-1], 100.0, 0
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n - 1 - i
