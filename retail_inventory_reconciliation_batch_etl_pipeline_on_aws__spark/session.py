"""SparkSession builder with the engine's physical-policy configuration.

The reference delegates all physical planning to Spark defaults
(AWS Glue; see ``glue-scripts/glue_job_1_stage_sales.py:13-16``). We make
the policy explicit and 100TB-oriented:

- AQE on (runtime partition coalescing + skew-join splitting) -- the
  skew story for zipfian hot SKUs.
- ``partitionOverwriteMode=dynamic`` -- reproduces the reference's
  idempotent per-partition replace contract (path-scoped overwrite at
  ``glue_job_1_stage_sales.py:26,71``; DELETE-then-COPY at
  ``dags/retail_pipeline_dag.py:19-41``) as a single writer semantic.
- UTC session timezone -- required for byte-identical comparison against
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled -- fast pandas interchange for the Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The heap never grows past this, however large the machine.
MAX_DRIVER_MEM_BYTES = 64 << 30


def driver_memory() -> str:
    """``spark.driver.memory`` for this machine: ``SPARK_GRAFT_DRIVER_MEM``
    when set, else half the physical memory, capped at 64g.

    In local mode the driver JVM is the whole engine: a heap larger
    than the box lets it grow until the kernel kills it mid-run. Half
    leaves room for the JVM's off-heap memory and the Python workers.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(physical // 2, MAX_DRIVER_MEM_BYTES) >> 20}m"


def build_session(
    app_name: str = "retail_reconciliation_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    so the same entry points serve local tests and a real cluster
    (where ``master`` is supplied by spark-submit and
    ``shuffle_partitions`` should be ~2-3x total cores); the heap
    defaults from the machine's memory (``driver_memory``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: one JVM -- driver memory is the only heap knob
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS), which Spark
        # refuses by default; read as long and convert at the fixture edge
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # bucketed-mart catalog location (local mode; cluster uses its
        # own metastore conf) -- keep table data out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
