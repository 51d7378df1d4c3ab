"""Storage seam: Iceberg catalog when available, parquet+manifest else.

BASELINE.json's north rule states the engine runs "over Iceberg tables"
— the properties it actually relies on are (a) atomic snapshot commits
(the distributed analogue of the reference's delete-and-rename commit,
``InvertedIndexManager.java:1062-1131``), (b) scan-time predicate
pushdown / file pruning on the ``term`` column, and (c) a resumable
write unit. This module is the ONE place that decides how those are
provided:

* **iceberg** mode — used when the Iceberg Spark runtime jar is on the
  session classpath (probed via the JVM, never imported blindly). A
  Hadoop-type catalog is configured against ``root`` and every table
  write is an Iceberg snapshot commit; readers get pushdown + pruning
  from the Iceberg source, plus time travel for free.
* **parquet** mode — the sandbox/shipped fallback (no Iceberg jar is
  baked into this environment): plain parquet directories plus the
  JSON manifest protocol in ``plans.checkpoint`` /
  ``streaming.incremental``, which provides the same commit contract
  at checkpoint-group granularity (data written first, manifest row
  ``os.replace``d last, so a manifest row implies durable data).

Both modes expose the same four calls, so ``checkpoint.py`` and the
jobs never branch on the backend. The active mode is reported in
``BENCH/BASELINE.md``.

Every package-written parquet table is read through :func:`read_table`,
which takes the schema from the Spark row schema stored in one data
file's footer (read on the driver) instead of letting Spark infer it
with a one-task job — opening an index runs no Spark job. The term
dictionary lookup, :func:`read_term_info`, reads the same files
(:func:`table_files`, listed by the same rule) with pyarrow on the
driver, so a ranked query learns its terms' df and cf without a job.

To enable iceberg mode on a real cluster::

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
        --conf spark.sql.catalog.pse=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.pse.type=hadoop \
        --conf spark.sql.catalog.pse.warehouse=<warehouse-uri> ...

or set ``PSE_ICEBERG_JAR`` before ``plans.session.get_spark`` builds
the session.
"""

from __future__ import annotations

import bisect
import json
import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CATALOG = "pse"

# the footer key Spark's parquet writer stores its row schema under
# (and that its own schema inference reads back)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(path: str) -> Iterator[str]:
    """The data files under ``path`` in sorted order, listed as Spark
    lists a parquet table."""
    for name in sorted(os.listdir(path)):
        # Spark's listing filter: `_x`/`.x` entries are not data (except
        # `_col=v` partition directories), nor are in-flight copies
        if (
            (name.startswith("_") and "=" not in name)
            or name.startswith(".")
            or name.endswith("._COPYING_")
        ):
            continue
        full = os.path.join(path, name)
        if os.path.isdir(full):
            yield from _data_files(full)
        else:
            yield full


def table_files(path: str) -> list[str]:
    """Every data file of the parquet table at ``path`` (empty when the
    directory is missing)."""
    return list(_data_files(path)) if os.path.isdir(path) else []


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a package-written parquet table without a Spark job.

    The data schema comes from the Spark row schema in the footer of
    the first data file (sorted order, hidden entries skipped as Spark
    skips them); partition columns (``group=``, ``batch=``, ...) are
    still discovered from the directory names under ``path``, so the
    columns and their order equal Spark's own inference."""
    first = next(_data_files(path), None)
    if first is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    meta = pq.read_schema(first).metadata or {}
    if SPARK_SCHEMA_KEY not in meta:
        raise ValueError(f"{first} carries no Spark row schema in its footer")
    schema = StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).option("basePath", path).parquet(path)


def term_row_groups(pf: pq.ParquetFile, terms: list[str]) -> list[int]:
    """The row groups of a ``term``-column parquet file whose min/max
    term statistics admit one of the sorted ``terms`` (all of them when
    a row group has no statistics). On a file written sorted by term
    that is about one row group per term."""
    col = pf.schema_arrow.get_field_index("term")
    keep = []
    for i in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(i).column(col).statistics
        if st is not None and st.has_min_max:
            j = bisect.bisect_left(terms, st.min)
            if j == len(terms) or terms[j] > st.max:
                continue
        keep.append(i)
    return keep


def read_term_info(files, terms) -> dict[str, tuple[int, int]]:
    """``{term: (df, cf)}`` for the ``terms`` found in the
    ``(term, df, cf)`` parquet ``files``, summed per term over the files
    — pyarrow reads on the driver, no Spark job. Only the row groups
    whose min/max statistics admit a query term are read
    (:func:`term_row_groups`)."""
    want = sorted(set(terms))
    out: dict[str, tuple[int, int]] = {}
    if not want:
        return out
    value_set = pa.array(want, pa.string())
    for path in files:
        with pq.ParquetFile(path) as pf:
            groups = term_row_groups(pf, want)
            if not groups:
                continue
            table = pf.read_row_groups(groups, columns=["term", "df", "cf"])
        table = table.filter(pc.is_in(table.column("term"), value_set=value_set))
        for t, df, cf in zip(*(table.column(c).to_pylist() for c in ("term", "df", "cf"))):
            d0, c0 = out.get(t, (0, 0))
            out[t] = (d0 + df, c0 + cf)
    return out


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableStore:
    """Uniform read/write surface for the index tables.

    ``root`` is the index directory (parquet mode) or the warehouse
    path (iceberg mode); ``namespace`` isolates one index's tables
    inside a shared catalog. Table names use ``/`` for sub-scoping in
    parquet mode (``postings/group=3``) which maps to a partition
    predicate in iceberg mode.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        namespace: str = "idx",
        mode: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.namespace = namespace
        if mode is None:
            mode = "iceberg" if iceberg_available(spark) else "parquet"
        if mode == "iceberg" and not iceberg_available(spark):
            raise RuntimeError("iceberg mode requested but runtime jar absent")
        self.mode = mode
        if mode == "iceberg":
            conf = spark.conf
            conf.set(f"spark.sql.catalog.{CATALOG}",
                     "org.apache.iceberg.spark.SparkCatalog")
            conf.set(f"spark.sql.catalog.{CATALOG}.type", "hadoop")
            conf.set(f"spark.sql.catalog.{CATALOG}.warehouse", root)
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {CATALOG}.{namespace}")

    # -- identifiers --------------------------------------------------------

    def _ident(self, name: str) -> str:
        return f"{CATALOG}.{self.namespace}.{name}"

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- surface ------------------------------------------------------------

    def write(self, df: DataFrame, name: str, *, partition_by: list[str] | None = None) -> None:
        """Overwrite-commit ``df`` as table ``name``. Iceberg: one
        atomic snapshot commit. Parquet: directory overwrite (callers
        that need atomicity at a coarser unit use the manifest
        protocol on top, writing data before the manifest row)."""
        if self.mode == "iceberg":
            w = df.writeTo(self._ident(name)).using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))

    def append(self, df: DataFrame, name: str) -> None:
        """Append-commit (iceberg: snapshot append; parquet: new files
        into the directory)."""
        if self.mode == "iceberg":
            # branch on existence rather than try/except: a transient
            # append failure (permissions, commit conflict, schema
            # mismatch) must surface as itself, not as a confusing
            # "table already exists" from a fallback create()
            if self.exists(name):
                df.writeTo(self._ident(name)).append()
            else:
                df.writeTo(self._ident(name)).using("iceberg").create()
        else:
            df.write.mode("append").parquet(self._path(name))

    def write_partition(self, df: DataFrame, name: str, part_col: str, part_val) -> None:
        """Idempotent overwrite of ONE partition of ``name`` — the
        per-checkpoint-group commit unit. Replaying a crashed group
        rewrites exactly its own partition. Iceberg: dynamic partition
        overwrite (snapshot commit); parquet: overwrite of the
        ``name/part_col=val`` directory."""
        from pyspark.sql import functions as F

        if self.mode == "iceberg":
            out = df.withColumn(part_col, F.lit(part_val))
            ident = self._ident(name)
            if not self.exists(name):
                out.writeTo(ident).using("iceberg").partitionedBy(
                    F.col(part_col)
                ).create()
            else:
                out.writeTo(ident).overwritePartitions()
        else:
            df.write.mode("overwrite").parquet(
                self._path(f"{name}/{part_col}={part_val}")
            )

    def read(self, name: str) -> DataFrame:
        if self.mode == "iceberg":
            return self.spark.table(self._ident(name))
        return read_table(self.spark, self._path(name))

    def exists(self, name: str) -> bool:
        if self.mode == "iceberg":
            return self.spark.catalog.tableExists(self._ident(name))
        return os.path.isdir(self._path(name))
