"""SparkSession factory.

The reference does its setup at module import (main.py:17-71): device
pick, SQLite DDL, FAISS index load, ViT model load. The Spark analog is
one well-configured SparkSession; tables are self-describing Parquet and
models load lazily per executor inside UDFs (never on the driver).

Config choices are scale-motivated:
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  — the knob that keeps a 100 TB shuffle from dying on one hot key.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  re-plans from this initial value.
- Arrow enabled for any pandas interchange (vectorized UDF path).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Iterable, schema_ddl: "str | StructType"
) -> DataFrame:
    """The one constructor for a DataFrame the driver builds from
    Python rows (codebooks, id lists, query terms, report frames, empty
    frames).

    ``rows`` is an iterable of positional tuples (``Row`` included) in
    ``schema_ddl`` order; ``schema_ddl`` is a DDL string or a
    ``StructType``. The rows become a ``pyarrow.Table`` built column by
    column under Spark's own Arrow mapping of the schema — pyarrow
    directly, not pandas, which would turn a nullable bigint into a
    float — so every value, NaN, ±inf, -0.0 and null included,
    arrives bit for bit.

    The driver-frame contract: a Python-list ``createDataFrame`` plans
    an RDD scan that starts Python workers (one job, a task per core)
    every time a plan evaluates it. An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) is planned as a ``LocalRelation``: no job at all, and the
    optimizer sees its size and rows. Above the threshold, executors
    decode the Arrow batches. Neither path starts a Python worker, so
    the helper only changes who decodes rows the driver already holds.
    """
    struct = (
        schema_ddl
        if isinstance(schema_ddl, StructType)
        else DataType.fromDDL(schema_ddl)
    )
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def get_session(
    app_name: str = "cnc_visionsearch_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/memory settings come from spark-submit and these
    local knobs are ignored.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixture `events.parquet` stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame-debugging wrapper captures the Python
        # call site for EVERY DataFrame API call (two extra JVM round
        # trips per call: a conf.get + PySparkCurrentOrigin.set —
        # pyspark/errors/utils.py). Measured r11: ~30-90 ms of pure
        # py4j chatter per query CONSTRUCTION, ~4% of the headline
        # bench. The call-site breadcrumb only decorates error
        # messages; turn it off for the serving/bench profile (flip to
        # "true" when debugging a plan interactively).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's "No Partition Defined" WARN fires for every
    # unpartitioned window — including the plan-audit-EXEMPT bounded
    # shapes (rank over <= n TakeOrderedAndProject survivors), which
    # flood bench/driver tails and bury real signals. The real gate for
    # the unbounded trap is structural (plans.unbounded_global_windows,
    # enforced over all queries by scripts/plan_audit.py), so the log
    # channel carries no unique information; raise it to ERROR.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: the warning is cosmetic
    return spark
