"""Pinned environment, Spark session lifecycle and the process audit.

Everything a run writes lives under one temp dir inside the checkout:
generated inputs, ``SPARK_LOCAL_DIRS``, the warehouse, the JVM's and
Python's temp files and the event log.  The dir is removed at exit.

Teardown stops the session, shuts the py4j gateway down, closes the
gateway process's stdin (the JVM exits when that pipe breaks) and waits
for the JVM.  Every process the JVM starts inherits a per-run marker in
its environment; the audit then finds any that survived, kills them and
reports the run as failed.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
import uuid

HEAP_MB = 2048
DRIVER_MEMORY = f"{HEAP_MB}m"
RUN_MARK = "PERFBENCH_RUN"


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``, first line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpus() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


class Environment:
    """Creates the run's temp dir and pins the launch environment.  Must
    run before pyspark starts its JVM."""

    def __init__(self, root: str, trace: bool):
        self.token = uuid.uuid4().hex
        base = os.path.join(root, ".perfbench", "tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = os.path.realpath(tempfile.mkdtemp(prefix="run-", dir=base))
        for d in ("local", "warehouse", "jtmp", "ptmp", "events", "inputs"):
            os.makedirs(os.path.join(self.tmp, d))
        self.events = os.path.join(self.tmp, "events")
        self.inputs = os.path.join(self.tmp, "inputs")
        self.cpus = cpus()
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            # a fixed heap, touched at start: a heap the collector grows
            # from a small start, and first touches of fresh heap pages
            # during the passes, make pass times vary from run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        }
        if trace:
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        submit = []
        for k, v in confs.items():
            submit += ["--conf", f"{k}={v}"]
        ptmp = os.path.join(self.tmp, "ptmp")
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "local"),
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
                    os.pathsep) if p]),
            "TMPDIR": ptmp,
            # every JVM, the launcher's too: temp files in the run dir,
            # no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                                 + os.path.join(self.tmp, "jtmp"),
            RUN_MARK: self.token,
        })
        tempfile.tempdir = ptmp
        self.record = {"cpus": self.cpus, "driver_memory": DRIVER_MEMORY,
                       "client_threads": 1, "master": f"local[{self.cpus}]",
                       "loadavg_1m": os.getloadavg()[0]}
        self._ticks = cpu_ticks()

    def steal_pct(self) -> float:
        """Share of the machine's CPU time the hypervisor took from it
        since the run began (wall times stretch by about as much)."""
        d = [b - a for a, b in zip(self._ticks, cpu_ticks())]
        return 100.0 * d[7] / max(sum(d), 1)

    def event_log(self) -> str | None:
        files = [f for f in os.listdir(self.events)
                 if not f.endswith(".inprogress")]
        return os.path.join(self.events, files[0]) if len(files) == 1 else None

    def remove(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


def identity(batches):
    """Warm-up body: runs in a Python worker, so the daemon starts."""
    yield from batches


class Session:
    """Owns the SparkSession and the gateway JVM behind it."""

    def __init__(self, env: Environment):
        self.env = env
        self.spark = None
        self.timings: dict[str, float] = {}

    def start(self, get_spark) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        n = self.env.cpus
        self.spark.range(0, 64 * n, numPartitions=n).mapInPandas(
            identity, schema="id long").count()
        t2 = time.perf_counter()
        self.timings.update(get_spark_s=t1 - t0, warmup_s=t2 - t1)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def memory(self) -> dict[str, float]:
        """The driver JVM's peak resident set (``VmHWM``) beyond its
        pre-touched heap, and the heap still in use after a full
        collection, in MB.  (A peak of heap use would read the
        collector's thresholds: in a fixed heap, G1 lets the old
        generation fill to ~45 % before it marks.)"""
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            hwm = next(int(line.split()[1]) for line in f
                       if line.startswith("VmHWM:"))
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return {"peak_nonheap_rss_mb": hwm / 1024.0 - HEAP_MB,
                "retained_heap_mb":
                    heap.getHeapMemoryUsage().getUsed() / 2**20}

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit.  Safe to call
        after a failed start."""
        from pyspark import SparkContext

        t0 = time.perf_counter()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            if self.spark is not None:
                self.spark.stop()
        except Exception as e:  # the JVM is shut down below regardless
            print(f"perfbench: spark.stop() failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
        finally:
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        self.timings["stop_s"] = time.perf_counter() - t0


def marked_processes(token: str) -> list[tuple[int, str]]:
    """(pid, command) of every other process carrying this run's marker."""
    mark = f"{RUN_MARK}={token}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if mark not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        found.append((int(entry), cmd.strip()))
    return found


def audit_processes(token: str, wait_s: float = 20.0) -> list[str]:
    """Wait for the run's JVM and Python workers to exit.  Returns the
    command lines of survivors, after killing them."""
    deadline = time.monotonic() + wait_s
    left = marked_processes(token)
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = marked_processes(token)
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while marked_processes(token) and time.monotonic() < deadline:
        time.sleep(0.1)
    return [f"{pid} {cmd[:160]}" for pid, cmd in left]
