"""A Spark session sized from the machine it runs on, with every file
it writes kept under the benchmark's work directory."""

from __future__ import annotations

import os
import platform
import subprocess


def box() -> dict:
    """Cores (the CPU affinity set, what ``nproc`` reports) and
    physical memory."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "cores": cores,
        "mem_gb": round(mem_kb / 2**20, 1),
        "cpu": platform.processor() or platform.machine(),
    }


def heap_gb(mem_gb: float) -> int:
    """Driver heap: a quarter of physical memory, between 1 and 4 GB.
    The workloads hold at most a few hundred MB of cached rows; the
    cap leaves room for the Python workers and other processes."""
    return int(min(4, max(1, mem_gb // 4)))


def young_mb(heap: int) -> int:
    """Fixed young generation: an eighth of the heap. G1 otherwise sizes
    it adaptively, and how far it grows decides how much of the heap the
    JVM touches: peak memory of the same run then varied by a third
    (2.1-3.1 GB). With a fixed young generation it reflects the data
    the run keeps, not GC heuristics."""
    return heap * 1024 // 8


def start(work: str, event_log: bool):
    """Start the session. ``work`` is an absolute directory for Spark's
    scratch files; ``event_log`` turns on the uncompressed event log
    under ``work/events``."""
    from wos_crawler_spark.session import get_spark

    info = box()
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    heap = heap_gb(info["mem_gb"])
    conf = {
        "spark.driver.memory": f"{heap}g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xmn{young_mb(heap)}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + events,
            }
        )
    spark = get_spark(
        "perfbench", cores=info["cores"],
        shuffle_partitions=info["cores"], extra_conf=conf,
    )
    info.update(
        heap=f"{heap}g",
        young=f"{young_mb(heap)}m",
        spark=spark.version,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return spark, info


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (a
    no-op once stopped)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
