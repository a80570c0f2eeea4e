"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the test/bench environment (one JVM,
``local[N]``); the conf choices are the ones that matter at cluster
scale too: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for any pandas-UDF exchange, and shuffle
partitions sized to the parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_extra_conf(raw: str) -> dict[str, str]:
    """Parse ``MPES_SPARK_EXTRA_CONF`` — semicolon-separated
    ``key=value`` pairs (whitespace-tolerant, empty/malformed entries
    ignored) — into a conf dict. Split out for unit testing."""
    out: dict[str, str] = {}
    for kv in raw.split(";"):
        kv = kv.strip()
        if kv and "=" in kv:
            k, _, v = kv.partition("=")
            if k.strip():
                out[k.strip()] = v.strip()
    return out


#: cgroup v2 memory limit of this process's group ("max" when unset)
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def _usable_memory() -> int:
    """Bytes this process can use: physical memory, capped by the
    cgroup v2 ``memory.max`` when one is set."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    try:
        with open(_CGROUP_MEMORY_MAX) as fh:
            limit = fh.read().strip()
    except OSError:
        return phys
    return min(phys, int(limit)) if limit.isdigit() else phys


def _default_driver_mem() -> str:
    """Driver heap: half the usable memory (the rest is for Python
    workers, off-heap buffers and the page cache), at least 1g and at
    most 48g. In local mode the driver JVM is the executor too, so a
    heap sized past the host lets it grow until the kernel kills it."""
    mb = _usable_memory() // 2 // 2**20
    return f"{min(max(mb, 1024), 48 * 1024)}m"


def get_spark(
    app_name: str = "mpes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters are environment-overridable so the same code path runs
    under the driver harness (``SPARK_GRAFT_CPUS``) and on a real
    cluster (where ``master`` is left to spark-submit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    # Executor Python workers must be able to import this package for
    # pandas-UDF / applyInPandas closures regardless of the driver's
    # cwd: prepend the package parent to PYTHONPATH before the JVM
    # starts (local mode inherits it). On a real cluster, ship the
    # package instead: spark-submit --py-files mpes_spark.zip.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local test files are single ~10-100 MB parquets; default
        # 128 MB split size yields 1-3 tasks and starves local[32].
        # At cluster scale the input is many files and this conf is
        # tuned per deployment (SURVEY §6: ~1e6-event partitions).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # This engine compiles solved calibrations into large
        # folded-literal expressions (TPS warps: dozens of log/sqrt
        # terms). Those exceed the default 64 KB huge-method check and
        # silently drop the whole stage to interpreted eval (~40x
        # slower, measured). Raising the limit keeps codegen; the JVM
        # interpreter on generated bytecode still far outruns Catalyst
        # expression interpretation even when JIT declines the method.
        .config("spark.sql.codegen.hugeMethodLimit", "262144")
        # The JVM-wide generated-class cache defaults to 100 entries;
        # a 100-query suite (several codegen stages each) evicts every
        # entry before any query repeats, so EVERY run re-pays Janino
        # compilation (measured 3-8 s for the expression-heavy
        # calibration/URL/classifier queries vs <1 s warm). A mixed
        # analytics workload re-running parameterized plans is exactly
        # the cache's use case — size it to hold the working set.
        # (Static conf: applies to the first session in the JVM.)
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Serialized RDD blocks (localCheckpoint generations of the
        # iterative graph/dedup family) default to UNCOMPRESSED; the
        # r10 sf10 decade probe measured the k-core peel writing 12
        # edge-relation generations to scratch and the shingle family
        # hitting the disk ceiling partly on raw checkpoint blocks
        # (SCALING.md r10 decade notes, tools/sf_decade_artifact.json).
        # Compressing them is pure win at scale: checkpoint blocks are
        # written once and re-read across iterations.
        .config("spark.rdd.compress", "true")
        # read TIMESTAMP(NANOS) parquet (the events stream table) as
        # epoch-nanos longs instead of failing (Spark 4 default)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("MPES_SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Deployment-specific overrides without code edits (the guide's
    # "config is tuned per deployment"): MPES_SPARK_EXTRA_CONF holds
    # semicolon-separated key=value pairs applied LAST, so a cluster
    # run (or a measured A/B experiment) can override any default
    # above. Unset under the driver's bench protocol, so bench
    # defaults — and bench comparability — are unchanged.
    for k, v in _env_extra_conf(
        os.environ.get("MPES_SPARK_EXTRA_CONF", "")
    ).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
