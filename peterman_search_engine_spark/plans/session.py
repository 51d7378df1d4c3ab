"""SparkSession factory with scale-appropriate defaults, and the
driver-side table builder every operator uses for small literal tables.

The same builder is used by tests and bench.py (``local[<cores>]``,
cores from ``SPARK_GRAFT_CPUS`` or the process's CPU affinity) and by
the spark-submit jobs; on a real cluster the master/memory settings
come from spark-submit and only the SQL conf below applies.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "peterman-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = str(len(os.sched_getaffinity(0)))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or cores
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("PSE_SHUFFLE_PARTITIONS", cpus if cpus.isdigit() else cores)
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions and skew
        # join splitting — the backstop behind our explicit salting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF / applyInPandas stage.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scans wide enough to parallelize at small SF too.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("PSE_DRIVER_MEM", "8g"))
        # UI off by default (test/bench noise); PSE_UI=true turns it on
        # for scripts that read task metrics from the REST API
        # (scripts/skew_study.py).
        .config("spark.ui.enabled", os.environ.get("PSE_UI", "false"))
    )
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """A driver-held table of ``rows`` (tuples in ``ddl`` column order)
    as a JVM ``LocalRelation`` — for query-term tables, seed rows and
    empty results.

    ``spark.createDataFrame(list, ddl)`` parallelizes the rows into a
    Python-worker RDD (``LogicalRDD``): every query that joins it
    launches Python tasks on ``defaultParallelism`` partitions to
    un-pickle a handful of rows, then broadcasts them. An Arrow table
    is converted JVM-side into a ``LocalRelation`` at any size,
    including zero rows, independent of the
    ``spark.sql.execution.arrow.pyspark.enabled`` conf and with no
    fallback to the pickled path, so the optimizer sees literal rows
    and the table never costs a job of its own."""
    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
