"""Host-derived settings, the Spark session, and process bookkeeping.

Every size comes from the host the benchmark runs on: the parallelism
level from the CPUs this process may use, the JVM heap from MemTotal,
GC threads from the level. Nothing is read from earlier runs.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time

BLAS_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def settings() -> dict:
    """All sizes of one run, derived from the host."""
    hi = cpu_count()
    mem = mem_total_mb()
    # an eighth of the machine's memory, between 1 and 4 GiB: the
    # host is shared, and the generated inputs are small
    heap_mb = max(1024, min(4096, mem // 8))
    return {
        "nproc": hi,
        "level": hi,
        "mem_total_mb": mem,
        "driver_heap_mb": heap_mb,
        "gc_threads": hi,
        "shuffle_partitions": hi,
        "blas_threads": 1,
        # fixed split size, so a scan plans the same splits whatever
        # the level (a split per ~4 MiB of parquet)
        "max_partition_bytes": 4 << 20,
        "arrow_batch_rows": 10000,
    }


def make_workdir(root: str) -> str:
    """A fresh per-invocation directory inside the checkout."""
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=base)


def start_session(cfg: dict, workdir: str, traced: bool):
    from pyspark.sql import SparkSession

    for v in BLAS_VARS:
        os.environ[v] = str(cfg["blas_threads"])
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # keep every temporary file (shuffle, broadcast, python files) in
    # the per-invocation directory
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the launch starts (the launcher too) writes its
    # temp files here and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = tmp
    # the heap's pages are touched at start, so the resident size does
    # not grow with however much of the heap G1 happens to have used
    # by the time the operations start
    java_opts = (
        f"-XX:+UseG1GC -Xms{cfg['driver_heap_mb']}m -XX:+AlwaysPreTouch "
        f"-XX:ParallelGCThreads={cfg['gc_threads']} "
        f"-XX:ConcGCThreads={max(1, cfg['gc_threads'] // 4)}"
    )
    n = cfg["level"]
    conf = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{cfg['driver_heap_mb']}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "wh"))
        .config("spark.sql.shuffle.partitions", str(cfg["shuffle_partitions"]))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes",
                str(cfg["max_partition_bytes"]))
        .config("spark.sql.files.openCostInBytes", "65536")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg["arrow_batch_rows"]),
        )
    )
    if traced:
        # the traced run attributes jobs, stages and SQL executions by
        # id range; keep all of them in the status store. The untraced
        # run keeps Spark's default retention, whose bounded memory
        # use is what a user's session has.
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                    "spark.sql.ui.retainedExecutions"):
            conf = conf.config(key, "100000")
        conf = conf.config("spark.ui.retainedTasks", "1000")
    spark = conf.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def reset_peak_rss() -> None:
    """Restart the VmHWM count of this process and the JVM, so the peak
    covers only what follows (the operations, not set-up or checks)."""
    for pid in ("self", jvm_pid()):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the JVM it drives."""
    kb = _vm_hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def _children_of(pids: set) -> set:
    found = set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid in pids:
            found.add(int(d))
    return found


def _descendants(pid: int) -> set:
    out, frontier = set(), {pid}
    while frontier:
        frontier = _children_of(frontier) - out
        out |= frontier
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except OSError:
        return False
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    pid = jvm_pid()
    kids = _descendants(pid) if pid is not None else set()
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers outlive the JVM until they notice it is gone;
    # ask them to stop now rather than wait for that
    for k in kids:
        if _alive(k):
            try:
                os.kill(k, signal.SIGTERM)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline and any(_alive(k) for k in kids):
        time.sleep(0.1)
    for k in kids:
        if _alive(k):
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 5
    while time.time() < deadline and any(_alive(k) for k in kids):
        time.sleep(0.1)


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    parent = os.path.dirname(path)
    try:
        os.rmdir(parent)  # only when no other invocation uses it
    except OSError:
        pass
