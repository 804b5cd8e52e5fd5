"""Driver-side frames: one bounded Arrow fetch in, a local relation out.

Operators whose input is small solve it on the driver (graph iterations,
ESD rounds, union-find, closed-form fits over tiny aggregates). Both ends
of such a solve go through this module:

- ``fetch_bounded`` reads the input with ONE Spark job and says whether
  it fits, instead of a ``count()`` job followed by a ``collect()`` job.
- ``local_frame`` hands the driver-built result back as an Arrow-built
  frame. Catalyst plans it as a ``LocalTableScan``: the rows live in the
  plan, so a sink over the result starts no job to read them back (a
  row-tuple ``createDataFrame`` plans as a ``Scan ExistingRDD`` over a
  parallelized, pickled RDD).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def fetch_bounded(df: DataFrame, limit: int) -> pa.Table | None:
    """``df`` as a ``pyarrow.Table`` when it has at most ``limit`` rows,
    else None. One job reads at most ``limit + 1`` rows; the extra row is
    the over-the-limit signal. A negative ``limit`` returns None without
    running anything, so a threshold of -1 always takes the caller's
    distributed path."""
    if limit < 0:
        return None
    table = df.limit(limit + 1).toArrow()
    return table if table.num_rows <= limit else None


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """A frame of driver-built ``rows`` (tuples in ``schema`` field order)
    planned as a ``LocalTableScan``. ``schema`` is a DDL string or a
    ``StructType``; each column becomes an Arrow array of the field's
    Arrow type."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
