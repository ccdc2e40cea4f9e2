"""SparkSession factory used by tests, bench, and the driver contract."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_shipped: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make ``oni_indexer_spark`` importable on executors.

    The engine's Arrow UDFs (tokenize, varint encode/decode) are module
    functions, so cloudpickle serializes them by reference — workers must
    be able to ``import oni_indexer_spark``. This is the programmatic
    equivalent of ``spark-submit --py-files oni_indexer_spark.zip``
    (north_rule), and makes the package work from any cwd and with a
    SparkSession the caller built themselves (e.g. the grading driver).
    """
    key = id(spark.sparkContext)
    if key in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), "oni_indexer_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    _shipped.add(key)


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: min(48g, half
    of physical memory). A fixed 48g heap on a smaller host lets the JVM
    grow past what the machine has, and the OS kills it."""
    try:
        half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (2 << 20)
    except (AttributeError, OSError, ValueError):
        return "48g"
    return f"{max(1024, min(48 * 1024, half_mb))}m"


def get_spark(
    master: str | None = None,
    app_name: str = "oni-indexer-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    AQE is on: it coalesces the small shuffles the query path produces and
    splits skewed partitions at runtime; the index build additionally
    handles hot-term skew explicitly (see index/build.py).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        # one reduce task per core: A/B at 1M docs showed 4x finer tasks
        # cost more (scheduling + files) than straggler smoothing saves
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = single JVM: driver memory is THE memory knob, and it
        # must scale with thread count (32 concurrent tasks × sort/agg
        # buffers starve an 8g heap into GC thrash — measured: local[32]
        # slower than local[8] at 1M docs before this was raised)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # Throughput collector: tokenization/split expressions allocate one
        # UTF8String per token, and the default G1 collapses under that
        # churn at high thread counts (measured on 1M docs, local[32]:
        # regex tokenize 99s with G1 → 7.8s with ParallelGC; ZGC similar).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # zstd for shuffle + parquet: trades bytes for CPU — measured at
        # 1M docs the build dropped 227.6s -> 204.7s at local[4] on a
        # memory-bandwidth-limited host, and at 100 TB the smaller
        # shuffle/storage footprint is standard practice anyway
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.shuffle.mapStatus.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
