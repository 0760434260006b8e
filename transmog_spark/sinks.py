"""Sinks / writers (reference W1-W9, SURVEY.md §2.4).

The reference hand-rolls csv/parquet/orc/avro writers with row->column
pivots and incremental buffering (writers/*.py, ~1.3 kLoC). On Spark every
one of those is a `df.write.format(...)` call: distributed, columnar,
spill-aware. What remains of the reference's writer layer:

* format registry + validation      (writers/__init__.py:29-130)
* save dispatcher: one file per table under a base dir (api.py:81-179)
* filename sanitization             (writers/base.py:48-59)
* CSV-injection sanitization        (writers/csv.py:24-57) — optional, as a
  column transform (leading =+-@|tab/CR, incl. after whitespace, -> "'").
"""

from __future__ import annotations

import os
import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from transmog_spark.operators.flatten import FlattenResult

_FORMATS = {"csv", "parquet", "orc", "avro", "json"}


class MissingDependencyError(RuntimeError):
    """Format backend unavailable (reference writers/__init__.py:29-130)."""


def sanitize_filename(name: str) -> str:
    """Path-safe table filenames (reference writers/base.py:48-59)."""
    s = re.sub(r"[^\w.-]+", "_", name).strip("_")
    return s or "table"


def sanitize_csv_injection(df: DataFrame) -> DataFrame:
    """Prefix formula-triggering cells with a quote (writers/csv.py:24-57).

    Applies to string columns whose first non-whitespace char is one of
    ``= + - @ | \\t \\r``.
    """
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, T.StringType):
            c = F.col(f.name)
            trig = F.regexp_extract(c, r"^\s*([=+\-@|\t\r])", 1) != ""
            out = out.withColumn(f.name, F.when(trig, F.concat(F.lit("'"), c)).otherwise(c))
    return out


def write_table(
    df: DataFrame,
    path: str,
    output_format: str = "parquet",
    *,
    csv_injection_safe: bool = False,
    **options,
) -> str:
    fmt = output_format.lower()
    if fmt not in _FORMATS:
        raise MissingDependencyError(
            f"Unsupported format {output_format!r}; choose from {sorted(_FORMATS)}"
        )
    mode = options.pop("mode", "overwrite")
    writer = df.write.mode(mode)
    if fmt == "csv":
        if csv_injection_safe:
            df = sanitize_csv_injection(df)
            writer = df.write.mode(mode)
        writer = writer.option("header", options.pop("header", "true"))
    if fmt == "parquet":
        options.setdefault("compression", "snappy")  # reference parquet.py:18-42
    if fmt == "orc":
        options.setdefault("compression", "zstd")  # reference orc.py:16-79
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.format(fmt).save(path)
    except Exception as exc:  # AnalysisException: DATA_SOURCE_NOT_FOUND
        if fmt == "avro" and "avro" in str(exc).lower():
            # spark-avro jar absent: distributed pure-Python OCF fallback
            # (reference writers/avro.py semantics; see sinks_avro docstring)
            from transmog_spark.sinks_avro import write_avro_fallback

            if mode not in ("overwrite", "append"):
                raise MissingDependencyError(
                    f"Avro fallback supports overwrite/append, not {mode!r}; "
                    "ship the spark-avro jar for full writer modes"
                ) from exc
            return write_avro_fallback(df, path, mode=mode)
        raise
    return path


def save_tables(
    result: "FlattenResult",
    path: str,
    output_format: str = "parquet",
    **options,
) -> list[str]:
    """Save dispatcher (reference api.py:81-179): one dir per table."""
    written = []
    for name, df in result.all_tables.items():
        target = os.path.join(path, sanitize_filename(name))
        written.append(write_table(df, target, output_format, **options))
    return written
