"""Arrow-batched pandas UDF wrappers for the python text kernels —
the only sanctioned way per-string python logic enters a Spark plan
(never row-at-a-time Python UDFs; SURVEY §4 O4)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from openocr_spark.functions.otsl import otsl_to_html
from openocr_spark.functions.text import truncate_repetitive_content


@pandas_udf(StringType())
def truncate_repetitive_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: truncate_repetitive_content(t) if t is not None else None)


@pandas_udf(StringType())
def otsl_to_html_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda t: otsl_to_html(t) if t is not None else None)
