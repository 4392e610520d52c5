"""SparkSession factory with scale-appropriate defaults.

These settings are the sandbox expression of the 100 TB design
(SURVEY.md §4): AQE on (runtime re-plan + skew-join splitting),
bounded Arrow batches (payloads are multi-KB strings, so record-count
caps bound Python-worker memory), and shuffle partitions sized to the
local core count (on a real cluster: 2-3× total executor cores, or
leave to AQE's ``advisoryPartitionSizeInBytes``).
"""

from __future__ import annotations

import os
import re
from collections.abc import Mapping

from pyspark.sql import SparkSession

# the heap ceiling measured best for this workload at local[32]
# (round 6): a larger heap there meant longer GC scans, and the 1g JVM
# default GC-thrashed under 32 executor threads
MAX_DRIVER_HEAP_MIB = 8 * 1024

_UNIT_MIB = {"m": 1, "g": 1024, "t": 1024 ** 2}

DEFAULT_CONFS = {
    # JVM↔Python Arrow traffic over Unix domain sockets: loopback TCP
    # on this sandbox kernel costs ~0.7 core-sec of system time per MB
    # (measured); UDS cuts it ~3×. Harmless on real clusters.
    "spark.python.unix.domain.socket.enabled": "true",
    # RAM-backed shuffle dir: this sandbox's VM disk makes shuffle I/O
    # the dominant noise source (measured ~3×); on a real cluster this
    # is the executors' local NVMe
    "spark.local.dir": os.environ.get("SPARK_LOCAL_DIRS",
                                      "/dev/shm/spark-local"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # multi-KB text payloads: cap rows per Arrow batch to bound worker memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    # ...AND cap batch BYTES: 2000 × 11 KB assembled payloads = 22 MB
    # Arrow batches, and large contiguous socket writes degrade up to
    # 5× under this host's memory-pressure episodes (measured: the
    # payload-parse stage went 126 s → 26 s with a 4 MB cap while
    # thin-row stages were unaffected). A byte cap adapts to row width
    # where the row-count cap cannot.
    "spark.sql.execution.arrow.maxBytesPerBatch": "4m",
    "spark.sql.session.timeZone": "UTC",
    # generous broadcast threshold: all our dimension tables are tiny
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def _heap_mib(size: str) -> int:
    """Whole MiB in a Spark/JVM memory string ("8g", "3584m"; no unit
    means MiB, as Spark reads ``spark.driver.memory``)."""
    m = re.fullmatch(r"(\d+)(?:([mgt])b?)?", size.strip(), re.IGNORECASE)
    if not m:
        raise ValueError(f"not a driver heap size: {size!r}")
    return int(m[1]) * _UNIT_MIB[(m[2] or "m").lower()]


def host_heap(ram_bytes: int | None = None) -> str:
    """Driver heap ceiling sized to the host: min(8g, physical RAM / 4).

    The heap grows to its working set up to this ceiling, and a quarter
    of RAM leaves room for a second session (a test run and the CLI
    subprocess it starts) plus both sessions' Python workers at theirs.
    """
    if ram_bytes is None:
        ram_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(MAX_DRIVER_HEAP_MIB, ram_bytes // 4 // 2 ** 20)}m"


def session_confs(extra_confs: dict | None = None,
                  env: Mapping[str, str] = os.environ,
                  ram_bytes: int | None = None) -> dict:
    """Every conf ``get_spark`` sets except the shuffle partitions.

    The driver heap is ``spark.driver.memory`` from ``extra_confs``,
    else ``SPARK_DRIVER_MEMORY``, else :func:`host_heap`;
    ``maxResultSize`` follows that final value.
    """
    extra_confs = extra_confs or {}
    heap = extra_confs.get("spark.driver.memory",
                           env.get("SPARK_DRIVER_MEMORY") or host_heap(ram_bytes))
    mib = _heap_mib(heap)
    return {
        "spark.driver.memory": heap,
        # half the heap: a cap at or above the heap could never fire
        # before the driver itself runs out of memory
        "spark.driver.maxResultSize": f"{mib // 2}m",
        # the heap grows to its working set: on 4 cores/15 GB a pre-
        # touched 4017m heap held spans_map peak RSS at 5460 MB vs 2218
        # MB, at the same rows/s (perfbench medians, 10 pairs). It paid
        # only at local[32], round 6 (6 s → 110 s without it)
        "spark.driver.extraJavaOptions": "-XX:+UseG1GC",
        **DEFAULT_CONFS,
        **extra_confs,
    }


def get_spark(app_name: str = "paperslicer_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_confs: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", None)
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    if shuffle_partitions is None:
        try:
            n = int(master.split("[", 1)[1].rstrip("]").replace("*", "0")) or os.cpu_count()
        except (IndexError, ValueError):
            n = os.cpu_count() or 8
        shuffle_partitions = max(2 * n, 8)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in session_confs(extra_confs).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
