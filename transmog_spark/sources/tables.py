"""Table IO: Iceberg catalog when configured, parquet fallback otherwise.

Production (north rule) runs against Iceberg tables of pre-tokenized
sequences via ``spark-submit --packages org.apache.iceberg:iceberg-spark-
runtime-...`` with a catalog under ``spark.sql.catalog.<name>``. This
sandbox has no Iceberg jars and no network, so the same API transparently
targets parquet directories of identical schema — the code-path difference
is exactly one ``format("iceberg")`` switch (SURVEY.md §7.7).

Table refs:
* ``catalog.db.table``  (no slash, contains dots) -> Iceberg/catalog table
* anything path-like     -> parquet directory
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def is_catalog_ref(ref: str) -> bool:
    return "/" not in ref and "." in ref and not ref.endswith(".parquet")


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    if is_catalog_ref(ref):
        return spark.read.table(ref)
    return spark.read.parquet(ref)


def write_table(
    df: DataFrame,
    ref: str,
    *,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Write a target table; partitioned writes for both backends.

    At 100 TB the partition columns (``source``, date buckets) bound file
    sizes and enable partition pruning on read; both Iceberg and the parquet
    fallback honor them.

    ``mode='overwrite_partitions'`` replaces ONLY the partitions present in
    ``df`` (dynamic partition overwrite / Iceberg overwritePartitions) —
    the idempotency primitive for resumable backfills: re-running a slice
    after a crash between data-write and watermark-commit replaces that
    slice instead of appending duplicates.
    """
    if is_catalog_ref(ref):
        w = df.writeTo(ref)
        if mode == "overwrite":
            w.createOrReplace()
        elif mode == "overwrite_partitions":
            w.overwritePartitions()
        else:
            w.append()
        return
    if mode == "overwrite_partitions":
        if not partition_by:
            raise ValueError("overwrite_partitions requires partition_by")
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*partition_by).parquet(ref)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(ref)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (optionally per-bucket-sorted) parquet table — the
    co-located join primitive: two tables bucketed by the same keys into
    the same bucket count join with ZERO exchange on either side (each
    bucket pairs 1:1 by hash), and repeated joins/aggregations on the
    bucket keys skip their shuffle forever after. This is the 100 TB
    answer to "this join shuffles the corpus every run": pay the shuffle
    once at write time, amortize it across every downstream job — the
    parquet-side analog of Iceberg's bucket partition transform
    (write_table handles the catalog side).

    ``path`` makes the table external (data at ``path``, metadata in the
    session catalog); without it the table is managed under
    ``spark.sql.warehouse.dir``. Plan evidence: tests/test_bucketed.py
    pins the exchange-free join.
    """
    w = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)
