"""SparkSession factory tuned for the analytics workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs
(AQE, Arrow, sized shuffle partitions) are what we would ship on a
multi-executor cluster — nothing here assumes single-node.

Python workers start from ``openset_spark.worker_daemon``
(``spark.python.daemon.module``), which is pyspark's daemon with one
fix: pyspark calls ``importlib.invalidate_caches()`` at the start of
every Python task (``worker_util.setup_spark_files``), and on CPython
3.11 and 3.12 ``zipimporter.invalidate_caches`` re-reads the whole
central directory of ``pyspark.zip`` eagerly, once per zipimporter the
worker holds: about 0.1 s per task. The library daemon re-reads an
archive only when it has changed. The module must be importable by the
workers, as the library's own UDFs already are.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of the host's memory, at
    most 24g: a fixed 24g heap on a smaller host lets the JVM grow past
    what the host has, and the OS kills it mid-run."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, host_mb // 2)}m"


def get_spark(app_name: str = "openset-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "openset_spark.worker_daemon")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Align whole-stage codegen's bail-out with HotSpot's actual
        # JIT refusal threshold (-XX:HugeMethodLimit = 8000 bytecode
        # bytes, JVM-version-independent). Spark's default (65535)
        # keeps stages whose generated methods land in the
        # 8 KB..64 KB band: those COMPILE but can never be JIT'd, so
        # the hot loop runs in the bytecode interpreter — the
        # measured 2.5-8x cliff documented in functions/vector.py.
        # With 8000, such stages fall back to per-operator codegen
        # (method-split, JIT-able); the successful compile that
        # sized them is cached, so the check is paid once per plan,
        # not per action. Scale-independent JVM behavior — the same
        # setting is right on a cluster. Validated against the
        # registry bench (alternated full-headline A/B, r15 #21);
        # overridable per-deployment via SPARK_GRAFT_HUGE_METHOD_LIMIT
        # because Spark ships 65535 for a reason — a stage whose
        # generated method lands in the 8-64 KB band but whose hot
        # loop is elsewhere loses whole-stage fusion under this cap.
        .config(
            "spark.sql.codegen.hugeMethodLimit",
            os.environ.get("SPARK_GRAFT_HUGE_METHOD_LIMIT", "8000"),
        )
    )
    return builder.getOrCreate()
