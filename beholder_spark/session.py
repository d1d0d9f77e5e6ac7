"""SparkSession factory tuned for the log-pipeline workload.

Defaults are chosen for correctness-determinism first (UTC session time
zone, Arrow enabled for pandas-UDF stages) and for scale second (AQE on,
shuffle partitions sized to cores locally; on a real cluster the caller
passes ``shuffle_partitions ≈ 2-3 × total cores``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make ``beholder_spark`` importable in executor Python workers.

    Pandas UDFs pickle by module reference; a session created by a host
    application (driver, notebook) won't have the repo on the workers'
    path. ``addPyFile`` of a package zip fixes that for any master —
    the same mechanism as spark-submit --py-files. Idempotent per session.
    """
    if getattr(spark, "_beholder_pkg_added", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    sources = sorted(
        os.path.join(dp, f)
        for dp, _dirs, files in os.walk(pkg)
        for f in files
        if f.endswith(".py")
    )
    # content-addressed zip: reruns reuse it instead of littering tmp
    h = hashlib.md5()
    for full in sources:
        h.update(full.encode())
        h.update(open(full, "rb").read())
    zip_path = os.path.join(tempfile.gettempdir(), f"beholder_spark_{h.hexdigest()[:12]}.zip")
    if not os.path.exists(zip_path):
        # per-process unique temp name: two sessions racing on identical
        # sources each build a private zip, then atomically replace — a
        # shared fixed .tmp name could interleave writes into a corrupt
        # zip that os.replace would then publish to executors
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(zip_path), suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
                for full in sources:
                    zf.write(full, os.path.relpath(full, root))
            os.replace(tmp, zip_path)  # atomic vs concurrent sessions
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
    spark.sparkContext.addPyFile(zip_path)
    spark._beholder_pkg_added = True


def get_spark(
    app_name: str = "beholder-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (or all cores). On a cluster, pass ``master=None`` via spark-submit and
    let the submit args win: an existing active session is returned as-is.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    # Executor Python workers must import beholder_spark even when the
    # driver process started outside the repo (local mode inherits this
    # env; on a cluster, spark-submit --py-files ships the package).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = (os.cpu_count() or 8) if cpus == "*" else int(cpus)
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd sinks: ~3× smaller than snappy on web text — trades CPU
        # (which scales with cores) for sink IO (which doesn't).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # task-side parallel commit renames; v1's driver-side sequential
        # rename is O(files) serial time that caps scaling at many-file
        # dynamic-partition sinks.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Spark warns "All paths were ignored" on every by-path read of a
    # directory whose name starts with '_' — the engine's own _manifest
    # and _lineage tables, whose reads succeed — so keep that logger at ERROR
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.datasources.DataSource", log4j.Level.ERROR
    )
    return spark
