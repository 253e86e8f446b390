"""Host sizing, the Spark session, and process-level measurements.

Everything the benchmark writes lives under one work directory inside the
checkout, including Spark's local/shuffle dirs and the JVM's temp dir.
"""

from __future__ import annotations

import os
import platform
import shutil
import signal
import subprocess
import sys
import time

# The engine's session factory defaults to local[32] and a 48g heap; on a
# small shared host that heap can outgrow physical RAM (no swap), so the
# benchmark sizes both from the host. The heap is committed whole at start
# (-Xms = -Xmx): left to grow, it went through ~10 full collections and
# ~150 young ones in a 60 s stream run, at points that differed from run to
# run, against none and ~25 once fixed. GC threads follow the cores.
HEAP_SHARE = 0.1
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096


_T0 = time.time()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"[{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    """The cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    return int(min(HEAP_MAX_MB, max(HEAP_MIN_MB, mem_total_mb() * HEAP_SHARE)))


def host_record(n_cores: int) -> dict:
    return {
        "cores": n_cores,
        "heap_mb": heap_mb(),
        "mem_total_mb": mem_total_mb(),
        "kernel": platform.release(),
        "python": platform.python_version(),
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def start_session(work: str, n_cores: int, event_log_dir: str | None = None):
    """A ``get_spark`` session on local[n_cores] with a host-sized heap.

    ``event_log_dir`` turns on an uncompressed Spark event log there (the
    traced run folds it into per-layer task metrics)."""
    from seatunnel_spark.session import default_gc_opts, get_spark

    heap = f"{heap_mb()}m"
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # read by get_spark / default_gc_opts and by the spark-submit launcher
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    extra = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the JVM takes the last of repeated -X/-XX options
        "spark.driver.extraJavaOptions": (
            f"{default_gc_opts(heap)} -Xms{heap} -XX:ParallelGCThreads={n_cores} "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
        })
    t0 = time.time()
    spark = get_spark(
        "perfbench", master=f"local[{n_cores}]", shuffle_partitions=n_cores,
        extra_conf=extra,
    )
    log(f"session local[{n_cores}] heap {heap} up in {time.time() - t0:.1f}s")
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    deadline = time.time() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left


def stop_processes() -> None:
    """Stops the Spark JVM this process launched and every process under it
    (PySpark's worker daemon and its workers), and waits until each has
    ended. ``spark.stop()`` alone leaves the JVM running until this
    process exits, and it then ends only after us."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # the JVM is ended below either way
            pass
    under = _descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM is ended below either way
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = _wait_gone(under, 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        left = _wait_gone(left, 10)
    if left:
        log(f"processes still running after SIGKILL: {left}")


def jvm_peak_rss_mb() -> float:
    """High-water resident set of the driver JVM this process launched."""
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            continue
    raise RuntimeError("no driver JVM found among this process's children")
