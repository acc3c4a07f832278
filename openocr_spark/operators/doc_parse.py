"""The OpenDoc document-parse pipeline (SURVEY §3.2,
tools/infer_doc_onnx.py:415-1028) as one DataFrame flow over a
layout-blocks table:

  blocks → score filter (P6) → overlap dedup + reference-label drop (J4)
         → reading order + GLOBAL numbering (W2/W3)
         [merge (G13) is a NO-OP on this reference path — numbering
          precedes it, so merge_blocks' label checks never match
          (see operators/layout.py module docstring); the live
          torch-path semantics are merge_blocks_op, differential-tested]
         → route (onnx substring semantics over the numbered label)
         → figure-in-table tokenize (J5, utils.py:478-535): doc-indexed
           [Fn] placeholder tokens painted into the table crop
         → recognize:
             ocr → greedy AR decode loop (W6, the real token-by-token
               generation kernel with EOS break and the L4 max_length
               cap — kernels/ar_decode.py)
             table → OTSL surrogate (figure tokens embedded as cells)
             formula → deterministic latex surrogate
         → post (infer_doc_onnx.py:945-970, exact order): repetition
           truncation (F7) → matched-delimiter $-rewrite on EVERY
           recognized block, formula_number stripping $ (F10) →
           OTSL→HTML keeping the RAW string when conversion is empty
           (F9) → figure untokenize (J5)
         → assemble: per-doc ordered span rows + markdown

Text generation is deterministic from (doc_id, block_id) so the
single-node oracle reproduces it without any model; the CONTROL FLOW
(sequential decode, tokenize/untokenize joins, per-doc assembly) is the
real reference semantics.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openocr_spark.functions.otsl import otsl_to_html
from openocr_spark.functions.text import truncate_repetitive_content
from openocr_spark.kernels.ar_decode import DEFAULT_MAX_LENGTH, ar_decode_text
from openocr_spark.operators.layout import (
    IGNORE_LABELS,
    figures_in_tables,
    filter_overlap_blocks,
    order_and_label,
    route,
    score_filter,
    untokenize,
)
from openocr_spark.rowmap import map_rows

_WORDS = "alpha beta gamma delta sigma lambda theta omega".split()


def surrogate_block_text(
    doc_id: str,
    block_id: str,
    task: str | None,
    fig_tokens: list[str] | None = None,
    max_gen_length: int = DEFAULT_MAX_LENGTH,
) -> str | None:
    """Deterministic recognition surrogate per routed block. The ocr
    route runs the REAL greedy AR decode loop (W6) over surrogate
    step-logits; table/formula emit structured markup the downstream
    F9/F10 passes consume. Table blocks with contained figures (J5)
    embed the placeholder tokens as cells, exactly where the reference's
    painted crop would sit in the recognized table."""
    if task is None:
        return None
    h = int(hashlib.md5(f"{doc_id}/{block_id}".encode()).hexdigest()[:8], 16)
    if task == "table_rec":
        a, b, c = _WORDS[h % 8], _WORDS[(h >> 3) % 8], _WORDS[(h >> 6) % 8]
        cells = f"<fcel>{a}<fcel>{b}<nl><fcel>{c}<ecel>"
        if fig_tokens:
            for tok in fig_tokens:
                cells += f"<nl><fcel>{tok}<ecel>"
        return cells
    if task == "formula_rec":
        return f"\\( {_WORDS[h % 8]}_{h % 10} \\)"
    # ocr (and the dead chart_rec route): the sequential generation kernel
    return ar_decode_text(f"{doc_id}/{block_id}", max_gen_length)


def vlm_dollar_rewrite(text: str, is_formula_number: bool) -> str:
    """The matched-delimiter $-rewrite applied to EVERY VLM result
    (infer_doc_onnx.py:952-961, exact; the column-expression twin is
    functions/exprs.formula_dollars): fires only when BOTH \\( and \\)
    (or both \\[ and \\]) are present; strips existing $; pads the
    rewritten delimiters with spaces; formula_number drops all $."""
    has_paren = "\\(" in text and "\\)" in text
    has_bracket = "\\[" in text and "\\]" in text
    if has_paren or has_bracket:
        text = text.replace("$", "")
        text = (
            text.replace("\\(", " $ ")
            .replace("\\)", " $ ")
            .replace("\\[", " $$ ")
            .replace("\\]", " $$ ")
        )
        if is_formula_number:
            text = text.replace("$", "")
    return text


def postprocess_block_text(
    raw: str | None,
    task: str | None,
    block_id: str,
    fig_tokens: list[str] | None,
    fig_mds: list[str] | None,
) -> str | None:
    """Shared per-block post pipeline in the reference's exact order
    (infer_doc_onnx.py:945-970): F7 truncation → F10 $-rewrite
    (formula_number = exact base-label match on the SUFFIXED id, which
    never fires — kept verbatim, see layout.py docstring; the effective
    formula_number behavior is the suffix-substring match) → F9
    OTSL→HTML keeping the raw string when conversion is empty → J5
    untokenize ([Fn] → <img src>)."""
    if raw is None:
        return None
    text = truncate_repetitive_content(raw)
    text = vlm_dollar_rewrite(text, block_id == "formula_number")
    if task == "table_rec":
        html = otsl_to_html(text)
        if html != "":
            text = html
        text = untokenize(text, dict(zip(fig_tokens or [], fig_mds or [])))
    return text


def _recognize_kernel(max_gen_length: int):
    def kernel(row):
        ftoks, fmds = row["fig_tokens"], row["fig_mds"]
        ftoks = [t for t in ftoks if t is not None] if ftoks is not None else None
        fmds = [m for m in fmds if m is not None] if fmds is not None else None
        raw = surrogate_block_text(
            row["doc_id"], row["block_id"], row["task"], ftoks, max_gen_length
        )
        post = postprocess_block_text(raw, row["task"], row["block_id"], ftoks, fmds)
        # image-kind / imgless blocks carry empty text in
        # recognition_results (infer_doc_onnx.py:988-1007)
        yield {**row, "text": "" if post is None else post}

    return kernel


def _figure_tokens(staged: DataFrame) -> DataFrame:
    """Per (doc_id, table custom_value): ordered arrays of figure
    placeholder tokens (nulls where the figure is too small to
    tokenize, utils.py:522-523) and their <img src> replacements (J5).
    The containment join and this aggregation both key on doc_id — one
    co-partitioned shuffle, no cross-doc surface."""
    figs = figures_in_tables(staged)
    pairs = F.array_sort(
        F.collect_list(F.struct("f_order", "token", "fig_md"))
    )
    return (
        figs.groupBy(F.col("doc_id").alias("f_doc_id"), F.col("t_order"))
        .agg(pairs.alias("pairs"))
        .select(
            "f_doc_id",
            "t_order",
            F.transform("pairs", lambda s: s["token"]).alias("fig_tokens"),
            F.transform(
                "pairs",
                lambda s: F.when(s["token"].isNotNull(), s["fig_md"]),
            ).alias("fig_mds"),
        )
    )


def doc_parse(
    blocks: DataFrame,
    score_threshold: float = 0.4,
    max_gen_length: int = DEFAULT_MAX_LENGTH,
    use_chart_recognition: bool = True,
) -> DataFrame:
    """blocks → per-block parsed rows (doc_id, block_id, label, task,
    reading_order, bbox, text) after the full layout flow."""
    staged = route(
        order_and_label(filter_overlap_blocks(score_filter(blocks, score_threshold))),
        use_chart_recognition,
    ).select(
        "doc_id", "block_id", "label", "task", "reading_order", "bbox",
        "custom_value", "has_img",
    )
    figs = _figure_tokens(staged)
    staged = staged.join(
        figs,
        (staged["doc_id"] == figs["f_doc_id"])
        & (staged["custom_value"] == figs["t_order"]),
        "left",
    ).drop("f_doc_id", "t_order")
    schema = (
        "doc_id string, block_id string, label string, task string, "
        "reading_order int, bbox array<double>, custom_value double, "
        "has_img boolean, text string"
    )
    return map_rows(staged, _recognize_kernel(max_gen_length), schema)


def doc_spans(parsed: DataFrame) -> DataFrame:
    """Parsed blocks → per-doc ordered span rows (the doc-task analog of
    the extraction output): boilerplate labels dropped, order re-ranked."""
    clean = parsed.filter(~F.col("label").isin(*IGNORE_LABELS))
    assembled = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct("custom_value", "label", "text", "block_id")
            )
        ),
        lambda s, i: F.struct(
            s["label"].alias("kind"),
            s["text"].alias("text"),
            s["block_id"].alias("block_id"),
            i.cast("int").alias("order"),
        ),
    )
    return clean.groupBy("doc_id").agg(assembled.alias("spans"))
