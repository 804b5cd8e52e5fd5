"""The one lineage break, for a bounded frame that several branches read.

``reuse`` is lazy (``localCheckpoint(eager=False)``), yet under AQE the
call still plans the frame and runs its upstream shuffle stages at
once, so every break costs build-time jobs. Keep one only where it
saves more than that: fewer parquet rows read, fewer jobs, or a measured
speedup. The blocks are pinned in executor storage, unreplicated: losing
an executor after the truncation fails the job instead of recomputing
the frame, a cheap retry for the bounded frames broken here.
"""

from pyspark.sql import DataFrame


def reuse(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut, for a frame read by several branches."""
    return df.localCheckpoint(eager=False)
