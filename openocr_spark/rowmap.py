"""The row-map kernel shape: a per-row Python function run over Arrow
batches through `mapInArrow`.

Most Python stages are a loop that turns one input row into zero or
more output rows (payload synthesis, metric matching, container
unpacking). `map_rows` is the one boundary contract they share: Arrow
batch in, Arrow batch out, with the declared schema as the only
statement of the output shape.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame,
    fn: Callable[[dict], Iterable[dict]],
    schema: T.StructType | str,
) -> DataFrame:
    """Apply `fn(row) -> iterable of rows` to every row of `df`.

    Rows are plain dicts keyed by column name (nested arrays arrive as
    lists, structs as dicts, binaries as bytes). Output dicts are built
    into one Arrow batch per input batch against `schema` (a DDL string
    or StructType, converted once on the driver): keys outside the
    schema are ignored, missing keys read as null, and a value that
    does not fit its field type fails the task.

    `batch.to_pylist()` copies every cell into a Python object. Kernels
    over wide binary cells (extract's media kernel, `decode_media`,
    `extract_features`) therefore stay hand-written `mapInArrow`
    kernels that wrap those cells zero-copy with `as_buffer()`: a
    per-cell copy of the joined payload stream measured 59 s against
    2 s of decode work.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_pylist(
                [out for row in batch.to_pylist() for out in fn(row)],
                schema=arrow_schema,
            )

    return df.mapInArrow(kernel, schema)
