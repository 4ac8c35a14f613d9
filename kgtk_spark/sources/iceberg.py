"""Catalog table sink/source, gated on catalog availability.

The production design (BASELINE.json north_rule) writes every pipeline
stage to an Iceberg table so reruns resume from the last committed
snapshot. The sink follows from ``identifier``:

- ``None``: a parquet directory at ``path``; the parquet job commit
  makes the write atomic;
- an identifier, with its Iceberg catalog (``spark.sql.catalog.<name>``)
  configured: ``df.writeTo(...)`` V2 createOrReplace commits, read
  through ``spark.table``, snapshot-atomic;
- an identifier without that catalog (any stock Spark, e.g. one without
  the Iceberg runtime jars): a table in the session catalog
  (``writeTo(...).using("parquet")``; the V1 session catalog has no
  RTAS, so replace is temp-table create, drop, rename).

The pipeline runner writes and reads every stage through
write_table/read_table, so flipping to Iceberg is a config change, not a
code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "iceberg") -> bool:
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def write_table(
    df: DataFrame, identifier: str | None, path: str, catalog: str = "iceberg"
) -> str:
    """Write ``df`` to the sink ``identifier`` selects (module docstring);
    returns the location written."""
    spark = df.sparkSession
    if identifier is None:
        df.write.mode("overwrite").parquet(path)
        return path
    if iceberg_available(spark, catalog):
        df.writeTo(f"{catalog}.{identifier}").createOrReplace()
        return f"{catalog}.{identifier}"
    # Pre-create the namespace so identifiers like ``kg.stage`` work
    # on a stock session catalog (only ``default`` pre-exists).
    if "." in identifier:
        ns = identifier.rsplit(".", 1)[0]
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
    # V1 session catalog has no atomic RTAS. Narrow the unsafe
    # window: fully commit the new data under a temp name FIRST,
    # then drop+rename. A failure after the drop leaves the temp
    # table holding the complete new data (recoverable), instead of
    # destroying the previously committed table before the rewrite.
    tmp = f"{identifier}__kgtk_tmp"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    df.writeTo(tmp).using("parquet").create()
    spark.sql(f"DROP TABLE IF EXISTS {identifier}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {identifier}")
    return identifier


def read_table(
    spark: SparkSession, identifier: str | None, path: str, catalog: str = "iceberg"
) -> DataFrame:
    if identifier is None:
        return spark.read.parquet(path)
    if iceberg_available(spark, catalog):
        return spark.table(f"{catalog}.{identifier}")
    return spark.table(identifier)
