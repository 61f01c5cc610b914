"""Host fit, Spark session lifetime, RSS sampling and timing statistics.

Everything here is benchmark plumbing: the engine is only ever reached
through its public API (``vcf2parquet_spark.session.get_spark`` and the
functions the workloads call).
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time

MB = 1e6


# --- host ------------------------------------------------------------------

def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb(mem_total: int) -> int:
    """JVM heap for local mode: a sixth of RAM, 1-2 GiB — the inputs
    are tens of MB.  The rest stays free for the Python workers (one per
    core) and the page cache; the engine's own default pins 24 GiB,
    which does not fit small hosts."""
    return max(1, min(2, mem_total // (6 << 30)))


def host_probe(seconds: float = 0.3) -> dict:
    """Single-core pure-Python spin rate and numpy memcpy bandwidth —
    recorded with every result so numbers from throttled windows of a
    shared host can be told apart."""
    import numpy as np

    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds / 2:
        for _ in range(10_000):
            n += 1
    spin = n / (time.perf_counter() - t0) / 1e6
    src = np.ones(32 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    copied, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds / 2:
        np.copyto(dst, src)
        copied += src.nbytes
    return {"cpu_miters": round(spin, 2),
            "copy_gbps": round(copied / (time.perf_counter() - t0) / 1e9, 2)}


def host_info() -> dict:
    mem = mem_total_bytes()
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(mem / (1 << 30), 2),
            "driver_mem_gb": driver_mem_gb(mem),
            "probe": host_probe()}


# --- Spark session ------------------------------------------------------------

class Session:
    """The engine's Spark session.  ``start`` launches the JVM when none
    is up, else starts a fresh SparkContext in the running one (after
    ``stop_context``); ``close`` stops the context, shuts the JVM down
    and waits for it and its Python workers to exit."""

    def __init__(self, work: str, host: dict) -> None:
        self.work = work
        self.host = host
        self.spark = None
        self.cores = host["nproc"]
        # the engine derives -Xmx/-Xms from SPARK_DRIVER_MEM; its JVM
        # options are left as they are.  Temporary files of the JVM
        # (SPARK_SUBMIT_OPTS is added to the driver's java command; no
        # hsperfdata file in /tmp) and of Python stay in the work area.
        self.local = os.path.join(work, "spark-local")
        os.makedirs(self.local, exist_ok=True)
        os.environ["SPARK_DRIVER_MEM"] = f"{host['driver_mem_gb']}g"
        os.environ["SPARK_SUBMIT_OPTS"] = (
            f"-Djava.io.tmpdir={self.local} -XX:-UsePerfData")
        os.environ["TMPDIR"] = self.local

    def conf(self, event_log_dir: str | None) -> dict:
        conf = {"spark.local.dir": self.local,
                "spark.sql.warehouse.dir": os.path.join(self.work,
                                                        "warehouse"),
                "spark.ui.showConsoleProgress": "false"}
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + event_log_dir,
                         "spark.eventLog.compress": "false"})
        return conf

    def start(self, cores: int | None = None,
              event_log_dir: str | None = None):
        from vcf2parquet_spark.session import get_spark

        self.cores = cores or self.host["nproc"]
        self.spark = get_spark(cores=self.cores, app_name="perfbench",
                               extra_conf=self.conf(event_log_dir))
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        children = _descendants(os.getpid())
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()   # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            _reap(children)


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every process in ``pids`` (the JVM's Python daemon and
    workers, which exit once the JVM is gone) has ended; kill the rest."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _exists(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _exists(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def pin_tree(pid: int, cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of ``pid`` and of its child
    processes (``taskset -a -p`` semantics, via sched_setaffinity)."""
    for p in [pid, *_descendants(pid)]:
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                try:
                    os.sched_setaffinity(int(tid), cpus)
                except OSError:
                    pass   # thread exited meanwhile
        except FileNotFoundError:
            pass


# --- RSS of the process tree ---------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak of the summed RSS over this process and all its descendants
    (JVM, Python daemon and workers), sampled every ``period`` seconds
    on a background thread."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0
        self.peak_client = self.peak_engine = 0   # this process / the rest
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        client = _rss_bytes(me)
        engine = sum(_rss_bytes(p) for p in _descendants(me))
        self.peak = max(self.peak, client + engine)
        self.peak_client = max(self.peak_client, client)
        self.peak_engine = max(self.peak_engine, engine)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- statistics -----------------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (label, value); None with fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11                       # 0-based rank; n-1-k == 10 beyond it
    return f"p{100 * (k + 1) // n}", sorted(xs)[k]
