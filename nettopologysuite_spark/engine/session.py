"""SparkSession construction with engine defaults, and the one way a
driver-built table enters Spark."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

# the default JVM heap never exceeds this, however large the host
DRIVER_MEM_CEILING = 16 * 2**30


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``$NTS_SPARK_DRIVER_MEM`` when set, else
    half of the host's physical memory (``phys_bytes``, read with
    ``os.sysconf`` when omitted), at most 16g — a heap as large as the host
    gets the JVM killed by the kernel instead of spilling."""
    env = os.environ.get("NTS_SPARK_DRIVER_MEM")
    if env:
        return env
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys_bytes // 2, DRIVER_MEM_CEILING) // 2**20}m"


def get_spark(
    master: str | None = None,
    app_name: str = "nts-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalesce + skew-join backstop (explicit salting is the
        # first line of defense; AQE catches what the salting policy misses)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow is the JVM↔Python boundary for every kernel call
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """A table built on the driver — row tuples, or a pandas DataFrame whose
    columns follow ``schema`` (a DDL string or a ``StructType``) — as a JVM
    ``LocalRelation`` (``LocalTableScan``).

    The rows go over as a ``pyarrow.Table`` typed from ``schema``. A list of
    tuples would become ``parallelize`` → ``Scan ExistingRDD``, and every
    scan of that re-runs ``defaultParallelism`` Python worker tasks, each
    with a fixed start-up cost larger than a small query's work; a pandas
    frame silently falls back to the same path when its Arrow conversion
    fails. The Arrow table path has no fallback, so scanning the result
    never starts a Python worker.
    """
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if isinstance(rows, pd.DataFrame):
        cols = [rows[c] for c in rows.columns]
    else:
        cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)
