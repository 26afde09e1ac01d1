"""Session builder with the engine's recommended configuration.

Mirrors the knobs the reference sets (ANSI off, session timezone, Iceberg
extensions when a lakehouse catalog is attached —
``kafka-iceberg-streaming-emrserverless-v2.py:133-149``) but defaults to a
local, catalog-free session tuned for the test harness, with AQE enabled
(runtime re-plan, skew-join handling, partition coalescing — the 100 TB
levers).
"""

from __future__ import annotations

import logging
import os
from typing import Mapping, Optional

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)


def _default_driver_mem() -> str:
    """Heap default: ~1/4 of available system memory, clamped to
    [2g, 24g].  1/4 leaves room for Python workers, Arrow buffers, the
    page cache, and off-heap JVM overhead; 24g is plenty for the sf0.1
    harness (measured: 4g survives with degrade-to-spill, SCALE.md §0)."""
    try:
        avail_kb = None
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
                    break
        if avail_kb is None:
            raise OSError("MemAvailable not reported")
        gb = max(2, min(24, avail_kb // (4 * 1024 * 1024)))
    except Exception:  # pragma: no cover - non-Linux fallback
        gb = 8
    return f"{gb}g"


def _mem_to_bytes(mem: str) -> int:
    """Parse a JVM memory string ('24g', '512m', '2048k', '1024')."""
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    mem = mem.strip().lower()
    if mem and mem[-1] in units:
        return int(float(mem[:-1]) * units[mem[-1]])
    return int(mem)


def build_session(
    app_name: str = "cdc_data_lake_pyspark_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # LocalLake DSv2 catalog (executable MERGE INTO / DELETE without an
    # Iceberg/Delta runtime): compile lazily and put the classes on the
    # driver classpath BEFORE the JVM starts. No-op without a JDK.
    locallake_cp = None
    try:
        from cdc_data_lake_pyspark_spark.catalog import ensure_compiled

        locallake_cp = ensure_compiled()
    except Exception as exc:  # pragma: no cover - compile failure is non-fatal
        logger.warning(
            "LocalLake catalog unavailable (compile failed: %r); the "
            "session starts without it",
            exc,
        )
    # Spark's driver-memory default is 1g; in local[N] the driver JVM IS
    # the executor, so N concurrent hash-agg/shuffle tasks at sf>=0.1 can
    # OOM it (the round-3 bench crash class). Size the heap explicitly —
    # overridable for the constrained-memory regression test — and derive
    # the default from available RAM instead of hard-coding 24g, so a
    # small host is never overcommitted (ADVICE r4).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # JDK unified-logging GC warnings print to STDOUT and can corrupt
        # harnesses that parse our single JSON output line; log4j (stderr)
        # is unaffected by this flag
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
    )
    if locallake_cp:
        builder = builder.config("spark.driver.extraClassPath", locallake_cp)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    preexisting = SparkSession.getActiveSession() is not None
    spark = builder.getOrCreate()
    # Builder conf reaches spark-submit only when THIS call launches the
    # JVM; a pre-existing gateway/session silently keeps its own heap
    # (getOrCreate even copies the requested value into the session conf,
    # so conf.get LOOKS applied).  Compare against the real JVM heap and
    # surface the mismatch (ADVICE r4).
    if preexisting:
        try:
            heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
            requested = _mem_to_bytes(driver_mem)
        except Exception:  # pragma: no cover
            heap = requested = None
        # maxMemory() reports slightly under -Xmx (survivor space); 30%
        # slack separates that from a genuinely different heap
        if requested and heap and not (0.7 * requested <= heap <= 1.5 * requested):
            import warnings

            warnings.warn(
                f"build_session requested spark.driver.memory={driver_mem} but "
                f"the already-running JVM heap is ~{heap / 1e9:.1f} GB; "
                "JVM-launch settings only apply when this process starts the "
                "gateway",
                stacklevel=2,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark
