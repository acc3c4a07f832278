"""Physical-plan introspection and distribution helpers.

The optimizer work the reference does by hand (SURVEY §4) is Catalyst's
job here; these helpers make the resulting plans *checkable* — tests
assert that filters actually reach the parquet scan, small dims actually
broadcast, and the pipeline carries exactly the shuffles it should.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    plan = formatted_plan(df)
    return "\n".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (AQE may later
    coalesce them, but the count is the structural shuffle budget)."""
    plan = physical_plan(df)
    return sum(
        1
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
        or "Exchange RoundRobinPartitioning" in ln
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (ReadSchema) — verifies
    column pruning (SURVEY O1: a scan reading all columns for a
    2-column projection is wrong)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            inside = ln.split("struct<", 1)
            if len(inside) == 2:
                body = inside[1].rsplit(">", 1)[0]
                cols.extend(p.split(":")[0] for p in body.split(",") if p)
    return cols


def salted(col: Column, buckets: int) -> Column:
    """Salting helper for skewed keys: stable hash-spread of a hot key
    into `buckets` sub-keys (SURVEY O5)."""
    return F.concat(
        col.cast("string"), F.lit("#"), F.pmod(F.xxhash64(col), F.lit(buckets)).cast("string")
    )

def executed_scan_metrics(df: DataFrame) -> list[dict[str, int]]:
    """Runtime metrics of every leaf scan of an ALREADY-EXECUTED
    DataFrame (call .collect() on `df` first — the metrics live on that
    DataFrame's own QueryExecution). Returns one dict per leaf with
    whatever of numFiles / numPartitions / filesSize / numOutputRows the
    scan reports. This is the ground truth for partition-pruning
    asserts: a pruned scan's numFiles counts only the files actually
    read, where inputFiles()/PartitionFilters only show intent."""
    wanted = {"numFiles", "numPartitions", "filesSize", "numOutputRows"}
    out: list[dict[str, int]] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        plan = stack.pop()
        leaves = plan.collectLeaves()
        for i in range(leaves.length()):
            node = leaves.apply(i)
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                # AQE wraps the real plan in a LeafExecNode — unwrap to
                # the final physical plan, else every adaptive query
                # reports zero scans and a pruning assert goes vacuous
                stack.append(node.executedPlan())
                continue
            if name in ("QueryStageExec", "ShuffleQueryStageExec",
                        "BroadcastQueryStageExec", "ResultQueryStageExec",
                        "TableCacheQueryStageExec"):
                stack.append(node.plan())
                continue
            metrics: dict[str, int] = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in wanted:
                    metrics[kv._1()] = kv._2().value()
            out.append(metrics)
    return out
