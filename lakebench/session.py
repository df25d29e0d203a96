"""Host-sized Spark session for the benchmark.

The session is sized from the machine it runs on — ``local[n]`` with
``n`` the usable CPU count and a driver heap well below physical RAM —
and keeps every file it writes (shuffle spill, warehouse, JVM temp
files, the optional event log) under the run's own output directory.
It goes through the program's own session factory
(``clinical_data_lake_spark.session.get_spark``), so the engine
defaults under test are the program's.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time
from dataclasses import dataclass

# heap share of physical memory, and its cap; the benchmark is one
# process sharing the host with others
_HEAP_SHARE = 0.25
_HEAP_CAP_MB = 3072
# seconds the gateway JVM gets to exit before it is killed
_STOP_TIMEOUT_S = 60.0


@dataclass
class HostSize:
    cores: int
    mem_total_mb: int
    heap_mb: int


def host_size() -> HostSize:
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    mem_mb = mem_kb // 1024
    heap = int(min(_HEAP_CAP_MB, mem_mb * _HEAP_SHARE))
    return HostSize(cores=cores, mem_total_mb=mem_mb, heap_mb=heap)


def start_session(work_dir: str, event_log: bool, host: HostSize):
    """Launch the JVM and return ``(spark, seconds)``.

    ``event_log`` turns on Spark's event log (uncompressed JSON lines
    under ``<work_dir>/eventlog``) — the traced run's source of per-span
    engine counters."""
    tmp = os.path.join(work_dir, "tmp")
    warehouse = os.path.join(work_dir, "warehouse")
    os.makedirs(tmp, exist_ok=True)
    # scratch files of this process, the JVM and its workers stay in the
    # run's directory (SPARK_LOCAL_DIRS would override spark.local.dir)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp

    from clinical_data_lake_spark.jvm_opts import COMPILER_POOL_FLAG, ensure_submit_args

    ensure_submit_args(
        java_options=(COMPILER_POOL_FLAG, "-XX:-UsePerfData", f"-Xms{host.heap_mb}m",
                      f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"),
        driver_memory=f"{host.heap_mb}m",
    )
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": warehouse,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
    }
    if event_log:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from clinical_data_lake_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="lakebench",
        master=f"local[{host.cores}]",
        shuffle_partitions=2 * host.cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait until it has exited:
    left alone it outlives this process while it shuts down, and overlaps
    whatever runs next."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(_STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
