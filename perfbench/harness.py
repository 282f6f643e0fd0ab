"""Process plumbing for one benchmark run.

Everything a run touches lives under its checkout: the work directory
(Spark local dirs, temp files, event logs, tables) is created fresh and
removed at the end. This module also owns the host record (load, CPU used
by processes outside the run's process tree, hypervisor steal), the peak
RSS read-out, and the teardown that stops the JVM and every process under
it and waits for them to end.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import subprocess
import tempfile
import time
from pathlib import Path

# The Spark driver heap is pinned well below physical RAM: the session factory's
# own default (16g) is larger than a 15 GB host, and a heap that may grow
# without bound makes GC timing (and RSS) depend on the host's free memory.
DRIVER_MEM = "2g"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started (covers interpreter start-up and
    imports, which a timer started in Python would miss)."""
    with open("/proc/self/stat") as f:
        after_comm = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(after_comm[19])  # field 22 of proc(5): starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def prepare_workdir(root: Path, trace: bool) -> Path:
    """Fresh work dir inside the checkout, and the environment that keeps
    Spark, the JVM and Python temp files inside it. Must run before the
    session starts: the JVM reads these once, at launch."""
    work = root / ".perfbench_work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events", "data"):
        (work / sub).mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> files from either JVM
    # (the spark-submit launcher's and the driver's).
    # -XX:TieredStopAtLevel=1: JIT with C1 only. In a one-minute run the
    # C2 compiler threads took a third of the process tree's CPU seconds,
    # in the background and by a varying amount, and did not make the
    # measured ops faster (same seed, 4-core host: measured phase 10.4 s
    # with C1 only, 10.1 s with C2; CPU per op 3.7 s against 5.7 s).
    # -XX:+UseSerialGC: no parallel GC workers, whose spin-waits burn CPU
    # seconds whenever another process takes one of their cores (set-up
    # CPU rose 2% under a competing CPU load, against 6% with G1).
    # -Xms equal to the heap limit: the young generation has its full size
    # from the start, so how often GC runs in the measured phase does not
    # depend on how far the heap has grown by then.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    jvm_opts = f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{DRIVER_MEM}"
    args += ["--driver-java-options", f"{jvm_opts} -Djava.io.tmpdir={work / 'tmp'}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return work


# ---------------------------------------------------------------- processes


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this run's process tree."""
    return _tree_ticks() / CLK_TCK


def _tree_ticks() -> int:
    """CPU ticks used by this process, its reaped children, and every live
    descendant (with their reaped children)."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return user + nice + system + irq + softirq, steal


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return kb / 1024.0


class HostRecord:
    """Load and contention over one run. ``others_cpu_s`` is the CPU time
    the machine spent outside this run's process tree; ``steal_s`` is time
    the hypervisor gave the VM's CPUs to other guests. Either one
    large means the timings shared the cores."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.load_start = _loadavg()
        self.busy0, self.steal0 = _cpu_ticks()
        self.tree0 = _tree_ticks()

    def finish(self) -> dict:
        wall = time.monotonic() - self.t0
        busy, steal = _cpu_ticks()
        tree = _tree_ticks()
        others = max(0.0, (busy - self.busy0 - (tree - self.tree0)) / CLK_TCK)
        steal_s = (steal - self.steal0) / CLK_TCK
        n = nproc()
        return {
            "nproc": n,
            "loadavg_start": self.load_start,
            "loadavg_end": _loadavg(),
            "driver_mem": DRIVER_MEM,
            "wall_s": round(wall, 3),
            "others_cpu_s": round(others, 2),
            "steal_s": round(steal_s, 2),
            # more than a quarter of one core, on average, went to work
            # that is not this run's
            "contended": (others + steal_s) / max(wall, 1e-9) > 0.25,
        }


def jvm_process(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def jvm_gc_jit_s(spark) -> dict:
    """The driver JVM's cumulative GC and JIT-compile time, in seconds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc / 1000.0, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0}


def _wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    deadline = time.monotonic() + timeout_s
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _stat_fields(p) and _stat_fields(p)[0] != "Z"]
    return alive


def stop_session(spark) -> None:
    """Stop Spark, close the gateway so the JVM exits, and wait until the
    JVM and every process under it (Python workers) have ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    proc = jvm_process(spark)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM hung on exit
            proc.kill()
            proc.wait(timeout=30)
    left = _wait_gone(kids, 20)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(left, 10)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                nbytes += os.stat(os.path.join(dirpath, name)).st_size
                nfiles += 1
            except FileNotFoundError:
                pass
    return nbytes, nfiles
