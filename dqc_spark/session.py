"""SparkSession factory tuned for the quality-filter workload.

Local-mode defaults mirror what we would set on a real cluster:
  * AQE on (runtime coalesce + skew-join splitting),
  * shuffle partitions sized to cores (not the 200 default),
  * Arrow enabled for every pandas-UDF boundary, with a bounded batch
    size because ``text`` payloads are large,
  * UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dqc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests.  Under ``spark-submit`` the submitter's ``--master`` is
    kept unless ``master`` is passed: PySpark then runs inside the JVM
    spark-submit launched (``PYSPARK_GATEWAY_PORT`` is set), and that
    JVM's conf already holds the master.  The conf alone cannot tell
    the cases apart, because spark-submit fills in ``local[*]`` when no
    ``--master`` is given.
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large text columns: keep Arrow batches bounded so executor
        # memory stays flat regardless of document size distribution
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("DQC_DRIVER_MEM") or default_driver_memory())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g: in local mode the driver
    JVM is the whole engine, and a heap sized past the machine's RAM
    gets the JVM killed by the kernel OOM killer instead of spilling."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2 >> 20, 16 << 10)}m"


def iceberg_available() -> bool:
    """True iff an Iceberg Spark runtime jar is on this installation's
    classpath.  This sandbox ships none (and installs are not allowed),
    so the audit/corpus tables fall back to the Parquet append-only
    layout; on a real cluster the jar is present and ``iceberg_conf``
    below turns the same code paths into Iceberg commits."""
    import glob

    import pyspark

    return bool(
        glob.glob(os.path.join(os.path.dirname(pyspark.__file__),
                               "jars", "*iceberg-spark-runtime*"))
    )


def iceberg_conf(warehouse: str, catalog: str = "dqc") -> dict[str, str]:
    """spark-submit/extra_conf entries that register a Hadoop-backed
    Iceberg catalog — the production target for the audit table and the
    curated-corpus writes (BASELINE north rule).  Pure config: safe to
    construct anywhere, only USE it when ``iceberg_available()``."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
