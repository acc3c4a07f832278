"""Session windows over an event stream — the batch formulation of the
reference's stream-shaped structures (SURVEY §2.9 ST1/ST2): gap-based
session assignment via lag + running sum, expressible identically in
batch SQL and (with watermarks) in Structured Streaming
(streaming/jobs.py holds the readStream variant)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the gap to
    the previous event of the same user exceeds `gap_seconds`. One
    shuffle on user_col; both windows share the partitioner."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col("event_id"))
    # double cast: TIMESTAMP_NTZ → TIMESTAMP (session tz = UTC) → epoch secs
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
