"""Launch settings for the benchmark's Spark sessions.

Everything the benchmark writes stays under ``<checkout>/perfbench/.work``:
Spark scratch space, the JVM temp dir, generated inputs, job output and the
event log of a traced run.  The settings below are the ones a 4-core,
16 GB box needs and the engine's defaults do not give it:

* master ``local[<cores>]`` with cores = the CPUs this process may run on;
* a driver heap well below RAM (the engine defaults to 16g);
* ``PYTHONPATH`` with the checkout root and this dir, so Python workers can
  import ``archvisier_spark`` and the benchmark's generators;
* ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside the work dir.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(WORK, "cache")
OUT = os.path.join(WORK, "out")
LOCAL = os.path.join(WORK, "spark-local")


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def driver_memory_mb() -> int:
    """An eighth of RAM, clamped to 1-4 GB: the driver JVM only scans and
    moves Arrow batches; the kernel runs in the Python workers."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 1024 // 8))


def prepare_env() -> None:
    """Process environment shared by the driver, the JVM and the workers.
    Must run before the first session starts the JVM."""
    for d in (CACHE, OUT, LOCAL):
        os.makedirs(d, exist_ok=True)
    n = str(cores())
    os.environ["SPARK_GRAFT_CPUS"] = n
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = LOCAL
    os.environ["TMPDIR"] = LOCAL
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # one worker thread per library inside each Python worker: the
    # parallelism comes from Spark's task slots
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(event_log_dir: str | None = None):
    """``session.get_spark`` with the launch settings above; returns
    ``(spark, seconds)``."""
    from archvisier_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={LOCAL} -XX:-UsePerfData",
        "spark.local.dir": LOCAL,
        "spark.sql.warehouse.dir": os.path.join(LOCAL, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores()}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36


def _children() -> list[int]:
    """Processes whose parent is this process, zombies included."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # it ended meanwhile
            continue
        # "pid (comm) state ppid ...": comm may hold spaces and parentheses
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(entry))
    return kids


def _reap(grace: float) -> None:
    """Wait for every process left behind, ending it if it takes longer
    than ``grace`` seconds: SIGTERM first, SIGKILL a few seconds later."""
    deadline, sig = time.monotonic() + grace, None
    while True:
        while True:  # collect the ones that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.monotonic() + 3
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str], timeout: float | None) -> int:
    """Run this script again as a child with ``argv`` and return its exit
    code, once every process it started has ended.

    Spark's Python worker daemon and multiprocessing's resource tracker
    outlive the process that started them by a moment; as a child
    subreaper this process inherits them when they are orphaned, and waits
    for them.  A child that runs past ``timeout`` seconds is ended."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: direct children only
        pass
    env = dict(os.environ, **{CHILD_ENV: "1"})
    child = subprocess.Popen([sys.executable, os.path.abspath(sys.argv[0]), *argv], env=env)

    def forward(signum, _frame):
        child.send_signal(signum)

    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, forward)
    try:
        code = child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: the run took over {timeout:.0f} s; stopped", file=sys.stderr)
        child.kill()
        code = child.wait() or 1
    _reap(grace=5)
    return code


def shutdown_jvm() -> None:
    """End the JVM the first session launched, and wait for it: the gateway
    server exits when its standard input closes."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Py4JError:  # the JVM is already gone
        pass
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
