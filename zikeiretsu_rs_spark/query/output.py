"""Output stage: table / JSON / Parquet writers + destination routing.

Reference: query/executor/output/{format,writer}/*.rs and the
validation matrix in lexer/mod.rs:112-177 (enforced at analysis time by
OutputCondition.validate; re-checked here).

Shape parity:
- table: pretty text table (TableDfOutput, table_format.rs:7-14).
- json: COLUMN-oriented dict {col: [values...]} (JsonDfOutput,
  json_format.rs:6-24) — not row-oriented lines, so `df.write.json` is
  wrong here; results at this point are query outputs (small by
  construction of the dialect), so a driver collect is appropriate.
- Both text formats render from the answer's Arrow table (the one the
  Flight server sends; a Spark-shape answer is collected with
  `df.toArrow()`): a pandas hop turns a nullable long column into
  float64 (7 -> 7.0, null -> NaN, 2**62 inexact), and NaN is not JSON.
- parquet / parquet_snappy: file write (parquet_format.rs:8-29).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..errors import InvalidOutputDestination
from .analyzer import OutputCondition
from .ast import OutputFormat


def render_table(table: pa.Table) -> str:
    # a long column with nulls renders as Python ints and None
    pdf = table.to_pandas(integer_object_nulls=True)
    return pdf.to_string(index=False)


def render_json(table: pa.Table) -> str:
    return json.dumps(table.to_pydict(), default=str)


def _frame(spark: SparkSession, answer: pa.Table | DataFrame) -> DataFrame:
    # createDataFrame from an Arrow table runs no Spark job
    return spark.createDataFrame(answer) if isinstance(answer, pa.Table) else answer


def write_output(
    spark: SparkSession, answer: pa.Table | DataFrame, cond: OutputCondition
) -> str | DataFrame | None:
    """Execute the output condition over the answer (an Arrow table or
    a Spark DataFrame). Returns the rendered string for stdout formats,
    a DataFrame for memory output, None for file writes."""
    cond.validate()
    if cond.output_to_memory:
        return _frame(spark, answer)

    fmt = cond.output_format
    path = cond.output_file_path

    if fmt in (OutputFormat.PARQUET, OutputFormat.PARQUET_SNAPPY):
        if path is None:
            raise InvalidOutputDestination("parquet format can output to only a file")
        compression = "snappy" if fmt is OutputFormat.PARQUET_SNAPPY else "none"
        _frame(spark, answer).write.mode("overwrite").option("compression", compression).parquet(path)
        return None

    table = answer if isinstance(answer, pa.Table) else answer.toArrow()
    rendered = render_json(table) if fmt is OutputFormat.JSON else render_table(table)
    if path is not None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            f.write(rendered)
        return None
    return rendered
