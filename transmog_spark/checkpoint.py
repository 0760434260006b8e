"""Per-partition watermark checkpoints + lineage metrics (north rule §7.8).

A backfill over 10^12 sequences cannot be one atomic job; this module makes
it resumable at slice granularity. A slice is one value of the output's
partition column (a ``source``, a shard). ``write_slices`` writes every
pending slice in one dynamic-partition-overwrite write, then appends one
watermark row per slice in a single multi-row append. On resume, committed
slices are skipped whole — never ts-filtered — and the rest are re-run: a
crash before the append leaves every pending slice uncommitted, and the
dynamic overwrite replaces whatever the crashed run wrote, so a re-run
cannot duplicate rows.

Lineage metrics mirror the reference's logging counters
(/root/reference/src/transmog/streaming.py:88-94) as a queryable table
instead of log lines.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from transmog_spark.sources.tables import read_table, write_table

# one row per committed slice per run; ``wall_ms`` is the wall time of the
# batch that committed it (all of a run's slices are written together, so
# every row of one append carries the same value)
WATERMARK_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("max_ts_processed", T.TimestampType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("child_rows", T.LongType(), True),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)


def _sql_literal(value, dtype: T.DataType) -> str:
    """A constant of ``dtype`` as SQL text: strings as UTF-8 hex (no
    escaping), timestamps as the epoch microseconds PySpark itself stores
    for a naive or aware ``datetime``."""
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.StringType):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    if isinstance(dtype, T.TimestampType):
        return f"timestamp_micros({dtype.toInternal(value)})"
    return f"CAST({int(value)} AS {dtype.simpleString()})"


def watermark_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """``rows`` (in ``WATERMARK_SCHEMA`` order) as a JVM-local relation.

    An inline ``VALUES`` table of constants plans as ``LocalTableScan``;
    ``createDataFrame`` over a Python list plans as ``Scan ExistingRDD``,
    whose write is several times slower for a handful of rows. No rows
    gives an empty local relation (``LIMIT 0``), which runs no Spark job.
    """
    fields = WATERMARK_SCHEMA.fields
    values = ", ".join(
        "(" + ", ".join(_sql_literal(v, f.dataType) for v, f in zip(row, fields)) + ")"
        for row in rows or [(None,) * len(fields)]
    )
    names = ", ".join(f.name for f in fields)
    limit = "" if rows else " LIMIT 0"
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names}){limit}")


class CheckpointStore:
    """Watermark bookkeeping over a parquet (or Iceberg) side table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """Every committed row. Only a missing path reads as "nothing
        committed"; any other failure (an unsupported scheme, an unreadable
        store) raises instead of redoing every slice."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(self.path)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return watermark_frame(self.spark, [])
        return self.spark.read.schema(WATERMARK_SCHEMA).parquet(self.path)

    def watermarks(self) -> DataFrame:
        """Latest watermark per partition key."""
        df = self.read()
        return df.groupBy("partition_key").agg(
            F.max("max_ts_processed").alias("watermark")
        )

    def commit_many(
        self,
        slices: list[tuple],
        *,
        run_id: str,
        started_at: float | None = None,
    ) -> None:
        """Append one watermark row per ``(partition_key, max_ts_processed,
        rows_in, rows_out, child_rows)`` in a single one-file append."""
        wall_ms = int((time.monotonic() - started_at) * 1000) if started_at else None
        rows = [(*s, run_id, wall_ms) for s in slices]
        watermark_frame(self.spark, rows).coalesce(1).write.mode("append").parquet(
            self.path
        )

    def commit(
        self,
        partition_key: str,
        max_ts_processed,
        *,
        rows_in: int,
        rows_out: int,
        child_rows: int = 0,
        run_id: str,
        started_at: float | None = None,
    ) -> None:
        self.commit_many(
            [(partition_key, max_ts_processed, rows_in, rows_out, child_rows)],
            run_id=run_id,
            started_at=started_at,
        )

    def committed_keys(self) -> set[str]:
        """Partition keys with a committed watermark (commit happens only
        after a slice's write completed, so presence == fully done). The
        side table is tiny: collect the key column, dedupe on the driver."""
        return {r[0] for r in self.read().select("partition_key").collect()}


def write_slices(
    store: CheckpointStore,
    frame: DataFrame,
    output: str,
    *,
    partition_col: str,
    keys: list,
    run_id: str,
    ts_col: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> dict[str, int]:
    """Write and commit every slice of ``frame`` whose key is uncommitted.

    All pending slices go through one plan: ``frame`` filtered to
    ``partition_col`` in the pending keys (then ``transform``, e.g. the
    backfill's feature plan and range layout), one ``overwrite_partitions``
    write, one grouped aggregate over the written files for each slice's
    row count and max ``ts_col``, and one multi-row ``commit_many``. Nothing
    is written when every key is committed.

    Prints a ``run_id``-tagged summary line and returns the rows written
    per newly committed key (a key with no rows commits 0, so an empty
    shard is not redone on resume).
    """
    done = store.committed_keys()
    pending = [k for k in keys if str(k) not in done]
    if pending:
        t0 = time.monotonic()
        part = frame.where(F.col(partition_col).isin(pending))
        write_table(
            transform(part) if transform else part,
            output,
            mode="overwrite_partitions",
            partition_by=[partition_col],
        )
        commits = _written_slices(store.spark, output, partition_col, ts_col, pending)
        store.commit_many(commits, run_id=run_id, started_at=t0)
    else:
        commits = []
    committed = {k: n for k, _, n, _, _ in commits}
    print(
        f"[{run_id}] committed {len(committed)} slice(s), "
        f"{sum(committed.values())} rows; skipped {len(keys) - len(committed)} "
        "already committed"
    )
    return committed


def _written_slices(
    spark: SparkSession, output: str, partition_col: str, ts_col: str | None, pending: list
) -> list[tuple]:
    """One ``commit_many`` tuple per pending key, with its row count and max
    ``ts_col`` from the WRITTEN files (not a second input pass; partition
    pruning keeps the read to the pending slices). Partition values are read
    back as the directory names (``str(key)``), not type-inferred, so a key
    such as ``"01"`` is not read back as the int 1."""
    keys = [str(k) for k in pending]
    infer = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(infer)
    spark.conf.set(infer, "false")
    try:
        max_ts = F.max(ts_col) if ts_col else F.lit(None).cast("timestamp")
        written = (
            read_table(spark, output)
            .where(F.col(partition_col).cast("string").isin(keys))
            .groupBy(partition_col)
            .agg(F.count(F.lit(1)), max_ts)
            .collect()
        )
    finally:
        spark.conf.set(infer, prev)
    stats = {str(key): (n, ts) for key, n, ts in written}
    commits = []
    for k in keys:
        n, ts = stats.get(k, (0, None))
        commits.append((k, ts, n, n, 0))
    return commits
