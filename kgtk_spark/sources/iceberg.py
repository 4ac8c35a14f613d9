"""Catalog table sink/source, gated on catalog availability.

The production design (BASELINE.json north_rule) writes every pipeline
stage to an Iceberg table so reruns resume from the last committed
snapshot. This container has no Iceberg runtime jars, so there are
three tiers, all behind the same call sites:

- with a configured Iceberg catalog (``spark.sql.catalog.<name>``),
  writes go through ``df.writeTo(...)`` V2 createOrReplace commits and
  reads through ``spark.table`` — snapshot-atomic;
- with ``session_catalog=True`` (any stock Spark), writes are catalog
  TABLES in the session catalog (``writeTo(...).using("parquet")`` —
  the V1 session catalog has no RTAS, so replace is drop + V2 create);
  the pipeline runner's table mode uses this in-container and is what
  tests exercise;
- otherwise, plain parquet directories + the manifest table
  (kgtk_spark/pipeline/runner.py) — the parquet committer makes each
  directory write atomic.

The pipeline runner writes and reads every stage through
write_table/read_table (``identifier=None`` is its parquet sink), so
flipping to Iceberg is a config change, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "iceberg") -> bool:
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def write_table(
    df: DataFrame,
    identifier: str | None,
    path_fallback: str,
    catalog: str = "iceberg",
    partition_by: list[str] | None = None,
    session_catalog: bool = False,
) -> str:
    """Write to ``catalog.identifier`` if Iceberg is configured, to a
    session-catalog table if ``session_catalog``, else to
    ``path_fallback`` parquet (also when ``identifier`` is None). Returns the
    location written."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if identifier is not None and iceberg_available(spark, catalog):
        writer = df.writeTo(f"{catalog}.{identifier}")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return f"{catalog}.{identifier}"
    if session_catalog:
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
        writer = df.writeTo(tmp).using("parquet")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.create()
        spark.sql(f"DROP TABLE IF EXISTS {identifier}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {identifier}")
        return identifier
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path_fallback)
    return path_fallback


def read_table(
    spark: SparkSession,
    identifier: str | None,
    path_fallback: str,
    catalog: str = "iceberg",
    session_catalog: bool = False,
) -> DataFrame:
    if identifier is not None and iceberg_available(spark, catalog):
        return spark.table(f"{catalog}.{identifier}")
    if session_catalog:
        return spark.table(identifier)
    return spark.read.parquet(path_fallback)
