"""SparkSession factory.

Local runs are sized from the host (``host_sizing``): every core this
process may run on, and ~40% of physical memory as the driver heap, with
$SPARK_GRAFT_CPUS / $SPARK_GRAFT_DRIVER_MEM as overrides. On a real
cluster the same configs apply per-executor. Everything here is sized so
the same code scales from the sf0.01 correctness runs to a 1000-executor /
100 TB deployment: AQE handles runtime re-planning (partition coalescing,
skew joins), shuffle partitions default to the parallelism of the local
run but should be overridden (or left to AQE) on a cluster, and Arrow is
enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# Pin the JVM default locale (ADVICE r9): the Arrow shingling kernel's
# bit-identity to the JVM reference relies on Python str.lower() matching
# UTF8String.toLowerCase, whose non-ASCII path delegates to java
# String.toLowerCase under the DEFAULT locale — on a tr/az-locale JVM 'I'
# lowercases to dotless 'ı' on the JVM side but 'i' in Python, a silent
# kernel-vs-reference divergence. en_US makes the parity contract hold on
# any host. It applies at JVM launch only, so get_spark checks the
# running JVM's locale after start.
LOCALE_JAVA_OPTS = "-Duser.language=en -Duser.country=US"
_JAVA_OPTS_KEYS = (
    "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions",
)


def host_sizing(
    env: Mapping[str, str], affinity: int, mem_total_kb: int
) -> tuple[int, str, int]:
    """(cores, driver heap, maxResultSize MB) for a local session on a
    host with ``affinity`` usable cores and ``mem_total_kb`` of physical
    memory (MemTotal). ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``
    in ``env`` override the host values.

    The heap defaults to 40% of physical memory, so the OS can always
    back it next to the Python workers. maxResultSize must stay well
    under the heap, or a large legitimate broadcast build OOM-kills the
    JVM instead of aborting with the clean maxResultSize error: heap/4,
    floored at min(256 MB, heap/2) and capped at 4 GB — the floor itself
    is heap-relative so even a tiny heap (e.g. 200m) can never be
    assigned a limit at or above the heap (ADVICE r5: a flat 256 MB floor
    broke the guarantee below ~1 GB)."""
    cpus = int(env.get("SPARK_GRAFT_CPUS") or affinity)
    host_heap_mb = mem_total_kb * 2 // 5 // 1024
    driver_mem = env.get("SPARK_GRAFT_DRIVER_MEM") or f"{host_heap_mb}m"
    m = driver_mem.lower()
    try:
        if m.endswith(("m", "mb")):
            heap_mb = int(m.rstrip("mb"))
        else:
            heap_mb = int(m.rstrip("gb")) * 1024
    except ValueError:
        heap_mb = host_heap_mb
    max_result_mb = min(4096, max(min(256, heap_mb // 2), heap_mb // 4))
    return cpus, driver_mem, max_result_mb


def get_spark(
    app_name: str = "sql-cdc-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Scale stance (100 TB): AQE on (runtime partition coalescing + skew-join
    splitting), auto broadcast for dimension tables, partition sizes capped
    so a task's input fits executor memory, UTC timestamps so results are
    reproducible across sites.
    """
    mem_total_kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    cpus, driver_mem, max_result_mb = host_sizing(
        os.environ, len(os.sched_getaffinity(0)), mem_total_kb
    )
    # Python workers re-import this package when a UDF closure references
    # it (cloudpickle pickles module-level functions by reference), so the
    # package root must be on the workers' PYTHONPATH — the driver's
    # sys.path is NOT inherited. Local mode: export it before the JVM
    # forks the worker daemon. Cluster mode: ship a wheel via --py-files;
    # this env line is still correct for the driver-side process.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Headroom for legitimate broadcast builds in the mid-scale band
        # where a table's COMPRESSED shuffle output sits under the 64 MB
        # broadcast threshold but deserializes to ~1 GiB (integer-dense
        # pair/posting tables compress ~10-30×; the 100× stress hit the
        # default 1g here). Structurally-wrong broadcasts are fixed with
        # per-join hints (dedup._attach_sizes); this raises the ceiling
        # for the ones that are genuinely the right plan, capped by the
        # configured driver heap (see host_sizing).
        .config("spark.driver.maxResultSize", f"{max_result_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # test parquet uses TIMESTAMP(NANOS), which Spark's vectorized reader
        # rejects; read as long and convert in tables.load (lossless — the
        # data is microsecond-precision)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # BI endpoint (sources/biserver.py): Thrift-server connections
        # share THIS session so JDBC clients see the registered temp
        # views; inert unless start_bi_endpoint is called
        .config("spark.sql.hive.thriftServer.singleSession", "true")
    )
    conf = dict(extra_conf or {})
    for key in _JAVA_OPTS_KEYS:
        # merged, not replaced; the pin goes last so it wins over any
        # -Duser.* the caller passes
        conf[key] = f"{conf.get(key, '')} {LOCALE_JAVA_OPTS}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    lang = spark._jvm.java.util.Locale.getDefault().getLanguage()
    if lang != "en":
        raise RuntimeError(
            f"JVM default locale language is {lang!r}, not 'en': the "
            "shingling kernel's parity with the JVM reference does not "
            "hold (a JVM started before get_spark keeps its own locale)"
        )
    return spark
