"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N] (single JVM); the configs below are
chosen so the same code scales on a multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces the reference's hand-pinned ``spark.default.parallelism=1``
  (PartitionQueryingSubject.java:56,76) with adaptive parallelism.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (AQE coalescing makes the initial number less critical).
- UTC session timezone so results hash-match the DuckDB oracle.
- Arrow enabled for the Pandas-UDF slow path (similarity/multimodal ops).

``local_relation`` turns a query-sized Python row list into a relation
that lives entirely on the JVM (see its docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "rdfproject_msc_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # NOTE: nanos-timestamp handling (events.parquet) lives in
        # sources.tables.load_table, which must work on ANY session —
        # including externally-built ones — so it is not configured here.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _sql_literal(value) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, str):
        # UTF-8 hex: no quoting rule or escape setting can alter the text
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    if isinstance(value, int):  # bool included: True/False are SQL literals
        return str(value)
    raise TypeError(f"local_relation: unsupported value {value!r}")


def local_relation(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A query-sized row list as a JVM ``LocalRelation`` with the DDL
    ``schema`` (``"name type, ..."``; int, string and NULL values).

    ``spark.createDataFrame(<list>)`` wraps a pickled Python RDD in a
    ``LogicalRDD``: every later action over a plan holding that leaf
    runs a Python-worker stage for it again, and copy-on-write lineage
    keeps such leaves forever. Here the rows travel in one SQL
    ``VALUES`` table that analysis folds into a ``LocalRelation``: one
    py4j call, no Python workers, and the rows are part of the plan.
    An empty list gives an empty ``LocalRelation`` of the schema."""
    if not rows:
        jvm = spark._jvm
        jdf = spark._jsparkSession.createDataFrame(
            jvm.java.util.ArrayList(),
            jvm.org.apache.spark.sql.types.StructType.fromDDL(schema),
        )
        return DataFrame(jdf, spark)
    fields = [f.split() for f in schema.split(",")]
    cols = ", ".join(
        f"CAST(col{i} AS {typ}) AS `{name}`"
        for i, (name, typ) in enumerate(fields, 1)
    )
    values = ", ".join(
        "(" + ", ".join(map(_sql_literal, row)) + ")" for row in rows
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {values}")
