"""Parquet reader whose schema comes from one footer read on the driver.

``spark.read.parquet(path)`` infers the schema with a Spark job: with
``mergeSchema`` off it reads the footer of the first data file, on an
executor, through ``ParquetFileFormat.readParquetFootersInParallel`` and
the session's schema converter. At the batch sizes of the GDC → Xena
path that job is a fixed ~0.1 s per read. ``read_parquet`` runs the same
two Spark functions on the driver and hands the result to
``spark.read.schema(...)``, so the read fires no job (Spark SQL, SIGMOD'15:
a source that supplies its schema skips inference).

Only the simple layout takes the driver path: one file, or one directory
of data files with no subdirectories and no summary files. Anything else
(partitioned directories, globs, ``mergeSchema``, a path with no data
file, an unreadable footer) falls through to ``spark.read.parquet``, so
its schema and its errors stay Spark's own.
"""

from __future__ import annotations

import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string


def _hidden(name: str) -> bool:
    """Names Spark's file index skips (``shouldFilterOutPathName``)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    first data file's footer on the driver, or ``None`` where the layout
    is not the simple one (see the module docstring)."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false") == "true" or glob.has_magic(path):
        return None
    jvm = spark._jvm
    hadoop_conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hadoop_conf)
    if not fs.exists(jpath):
        return None
    status = fs.getFileStatus(jpath)
    if status.isDirectory():
        listed = {c.getPath().getName(): c for c in fs.listStatus(jpath)}
        # a summary file (which Spark would read first) or a subdirectory
        # (a partition) leaves the simple layout
        if any(n.startswith(("_metadata", "_common_metadata")) for n in listed):
            return None
        children = [c for n, c in listed.items() if not _hidden(n)]
        if any(c.isDirectory() for c in children):
            return None
        # Spark's inference reads the first data file by path
        files = sorted(children, key=lambda c: c.getPath().toString())
    else:
        files = [status]
    if not files or files[0].getLen() == 0:
        return None
    first = jvm.java.util.ArrayList()
    first.add(files[0])
    parquet_format = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = parquet_format.readParquetFootersInParallel(
        hadoop_conf, jvm.org.apache.spark.api.python.PythonUtils.toSeq(first), True
    )
    schema = parquet_format.readSchema(footers, spark._jsparkSession)
    if schema.isEmpty():
        return None
    return _parse_datatype_json_string(schema.get().asNullable().json())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job."""
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
