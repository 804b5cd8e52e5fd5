"""Driver-side frames: one bounded Arrow fetch in, a local relation out.

Operators whose input is small solve it on the driver (graph iterations,
ESD rounds, union-find, closed-form fits over tiny aggregates). Both ends
of such a solve go through this module, and ``DRIVER_ROWS`` bounds what
the driver holds:

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

# The one bound on the rows a driver solve holds. The hybrid operators
# (`events.pagerank` / `label_propagation` / `kcore`,
# `drift._esd_iterate`, `dedup.connected_components`) read it at call
# time as ``local.DRIVER_ROWS`` and fetch at most this many rows (the
# graph operators count symmetric edges); a larger input runs the
# distributed rounds. The shared-attribute graph operators route as:
# - small input: pagerank and label_propagation fetch the non-NULL
#   (attr, entity) rows once, bounded at DRIVER_ROWS // 2 rows, and build
#   the capped edge list on the driver (`events._driver_graph`); a
#   larger input pays that read (one task, at most DRIVER_ROWS // 2 + 1
#   rows) and drops it;
# - larger input whose graph fits (2·|edges| ≤ DRIVER_ROWS symmetric
#   edges): Spark builds the edge list (`events._capped_edges`), one
#   bounded fetch reads it (`events._driver_edges`) and the rounds run
#   on the driver;
# - otherwise: the distributed rounds.
# The driver never iterates over more than DRIVER_ROWS symmetric edges,
# whichever route built them. -1 sends every hybrid to its distributed
# rounds (`attest.py --forced`, and tests through monkeypatch).
DRIVER_ROWS = 2_000_000


def fetch_bounded(df: DataFrame, limit: int) -> pa.Table | None:
    """``df`` as a ``pyarrow.Table`` when it has at most ``limit`` rows,
    else None. One job reads at most ``limit + 1`` rows; the extra row is
    the over-the-limit signal. A negative ``limit`` returns None without
    running anything, so ``DRIVER_ROWS = -1`` always takes the caller's
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
