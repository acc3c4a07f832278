"""Scalar text functions re-creating the reference's normalization /
truncation / decode semantics (SURVEY.md §2.8). Pure-python kernels live
in `text.py` / `otsl.py` (unit-tested directly) and are called from the
operators' Arrow kernels; where possible the same logic is a plain
column expression in `exprs.py` (preferred: JVM-side)."""

from openocr_spark.functions.exprs import (  # noqa: F401
    clean_special_tokens,
    formula_dollars,
    ignore_space,
    normalize_alnum,
    normalized_levenshtein,
)
from openocr_spark.functions.text import (  # noqa: F401
    pred_reverse,
    stream_match,
    truncate_repeated_tail,
    truncate_repetitive_content,
)
