"""The benchmark's own Spark session, sized for a 4-core, 15 GB host.

``bench.build_spark`` asks for a 48 GB driver.  This session runs
local[4] with a fixed 2 GiB driver heap (run.py's preflight checks the
host has the RAM for it) and keeps every scratch file (Spark local
dirs, JVM temp files, event logs) under the checkout's work directory.
"""

from __future__ import annotations

import os

CORES = 4  # local[4]: the workloads are sized for four task slots
# In local mode the executors live in the driver JVM, but the sparc legs
# keep their data in the Python workers: the heap only carries the
# reference legs' ORC writer and reader.  Fixed and pre-touched at launch,
# so the JVM's share of peak RSS is constant instead of following when its
# garbage collector happens to grow the heap, and RSS differences are the
# Python side's.
DRIVER_MEMORY = "2g"


def start(root: str, work: str, event_log_dir: str | None = None):
    """Start (or, within a running JVM, re-create) the local session.

    ``root`` is put on the Python workers' path: without it they fail
    with ``No module named 'sparc'``.  Environment set here reaches the
    JVM only when it is first launched, which is the first call."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, path) if p)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("sparc-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # no /tmp/hsperfdata_* file either: every file the run writes
        # stays in the work dir
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # worker reuse is off by default in this Spark build; without it
        # every Python stage forks fresh workers
        .config("spark.python.worker.reuse", "true")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = b.config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
