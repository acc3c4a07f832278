"""Layout-block operators — the OpenDoc layout-parse → route → assemble
flow (SURVEY §3.2) over a blocks table
(doc_id, cls_id, label, score, bbox[x1,y1,x2,y2], custom_value).

Per-doc geometric passes (overlap dedup, merge) run as grouped Arrow
maps (`applyInArrow` per doc_id, one `pa.Table` per doc): K is dozens of
blocks per doc, so the O(K²) loops stay in one group — exactly how the
reference iterates (utils.py:129-168, 258-413) — while docs distribute
across the cluster. Ordering/numbering/routing are pure column
expressions; the per-block scalar steps (figure tokens, markdown) are
Arrow-batched row UDFs (`udf(useArrow=True)`).

REFERENCE-PATH NOTE (pinned by tests/test_layout_differential.py against
the reference's own functions). The reference has TWO doc pipelines with
different label handling:
  - tools/infer_doc_onnx.py (the path this module's doc flow models):
    blocks are numbered `{label}_{idx:02d}` with the GLOBAL 1-based
    ordered index (:464-466) BEFORE merge/routing. The suffix makes
    `merge_blocks` a NO-OP there (its `label == "text"` / non_merge
    checks never match a suffixed label) and changes effective routing:
    `block_label == 'chart'` never fires (chart falls through to OCR
    when use_chart_recognition=True), while `'formula' in block_label
    and block_label != 'formula_number'` matches formula_number_NN too
    (suffix defeats the exclusion), so formula_number IS formula-routed.
  - tools/infer_doc.py (torch path): labels stay base labels, so merge
    and the equality/exclusion routing behave as written.
The doc flow here follows the onnx path's OBSERVED behavior (numbering
first ⇒ no merge, substring routing); `merge_block_rows` implements the
full reference merge semantics for the unsuffixed (torch-path) domain
and is differential-tested there.
"""

from __future__ import annotations

import functools
import random as _random
import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Labels never sent to recognition; their crops are emitted as image
# refs instead (infer_doc_onnx.py:41 IMAGE_LABELS). chart joins the set
# when chart recognition is off (infer_doc_onnx.py:846-848).
IMAGE_LABELS = ("image", "header_image", "footer_image", "seal")

# Boilerplate layout classes excluded from assembled doc_spans output.
# The reference's two markdown sinks DISAGREE on this list:
#   - to_markdown.py:398-401 (torch-path MarkdownConverter — the list
#     functions/markdown.py:MD_SKIP_LABELS matches exactly): header,
#     header_image, footer_image, footer, aside_text, inline_formula,
#     number — footnote KEPT, chart KEPT;
#   - infer_doc_onnx.py:566-568 markdown_ignore_labels (onnx-path
#     save_to_markdown): number, footnote, header, footer, aside_text,
#     footer_image, header_image, CHART — inline_formula KEPT.
# doc_spans is a SPAN contract (not markdown), so it takes the onnx
# list minus chart: chart blocks carry recognized content a span
# consumer wants, while inline_formula spans are kept because only the
# torch sink drops them. The markdown sink itself applies MD_SKIP_LABELS
# (the to_markdown list) — each list is pinned to its own reference sink.
IGNORE_LABELS = (
    "header", "footer", "aside_text", "number", "footnote",
    "header_image", "footer_image",
)


def image_label_set(use_chart_recognition: bool = True) -> tuple[str, ...]:
    return IMAGE_LABELS if use_chart_recognition else IMAGE_LABELS + ("chart",)


def score_filter(blocks: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Layout score filter (infer_doc_onnx.py:422-425, SURVEY P6)."""
    return blocks.filter(F.col("score") > threshold)


def _overlap_over_smaller(a, b) -> float:
    ix = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
    iy = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
    inter = ix * iy
    area_a = abs((a[2] - a[0]) * (a[3] - a[1]))
    area_b = abs((b[2] - b[0]) * (b[3] - b[1]))
    ref = min(area_a, area_b)
    return inter / ref if ref > 0 else 0.0


def _overlap_union(a, b) -> float:
    ix = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
    iy = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
    inter = ix * iy
    area_a = abs((a[2] - a[0]) * (a[3] - a[1]))
    area_b = abs((b[2] - b[0]) * (b[3] - b[1]))
    ref = area_a + area_b - inter
    return inter / ref if ref > 0 else 0.0


def _dedup_one_doc(labels: list, boxes: list, threshold: float) -> list[int]:
    """Greedy overlap dedup (utils.py:137-168 filter_overlap_boxes,
    exact) over one doc's block labels and bboxes; returns the indices
    of the kept blocks, in input order. Blocks labeled 'reference' are
    DROPPED OUTRIGHT before the scan (utils.py:140-144 — they never reach
    routing or markdown; a NULL label is not 'reference' and stays);
    then for any pair with overlap-over-smaller > threshold, drop the
    smaller-area block. The exemption is the reference's EXACT rule: one
    side's label is 'image' (only 'image' — a seal-vs-text pair still
    dedups) AND the labels differ (image-vs-image dedups). A block
    dropped mid-scan stops dropping others (the reference re-checks
    dropped_indexes per pair, utils.py:149)."""
    idx = [i for i, lb in enumerate(labels) if lb != "reference"]
    labels = [labels[i] for i in idx]
    boxes = np.array([boxes[i] for i in idx], dtype=np.float64).reshape(-1, 4)
    areas = np.abs((boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1]))
    drop: set[int] = set()
    k = len(idx)
    for i in range(k):
        if i in drop:
            continue
        for j in range(i + 1, k):
            if i in drop:
                break  # i was dropped by an earlier j in this scan
            if j in drop:
                continue
            if _overlap_over_smaller(boxes[i], boxes[j]) > threshold:
                if (
                    (labels[i] == "image" or labels[j] == "image")
                    and labels[i] != labels[j]
                ):
                    continue  # image-vs-other exempt (utils.py:157-160)
                drop.add(j if areas[j] <= areas[i] else i)
    return [idx[i] for i in range(k) if i not in drop]


def filter_overlap_blocks(blocks: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Per-doc overlap dedup (SURVEY §2.3 J4): one Arrow table per
    doc_id through applyInArrow, reduced to the rows _dedup_one_doc
    keeps."""

    def fn(table):
        import pyarrow as pa

        keep = _dedup_one_doc(
            table["label"].to_pylist(), table["bbox"].to_pylist(), threshold
        )
        # typed indices: an empty Python list would infer a null array
        return table.take(pa.array(keep, pa.int64()))

    return blocks.groupBy("doc_id").applyInArrow(fn, schema=blocks.schema)


# ------------------------------------------------------------------ merge


def _crop_dims(bbox) -> tuple[int, int]:
    """Crop size under the reference's int-truncating crop
    (infer_doc_onnx.py:324-332 crop_by_boxes): width/height of
    image[int(y1):int(y2), int(x1):int(x2)]."""
    x1, y1, x2, y2 = (int(v) for v in bbox)
    return max(0, x2 - x1), max(0, y2 - y1)


def merge_block_rows(
    rows: list[dict], non_merge_labels: tuple[str, ...]
) -> list[dict]:
    """The reference's merge_blocks (utils.py:258-413), exact, over
    block-row dicts with keys (label, bbox, ...). Returns the
    post-merge block sequence with two added keys:
      has_img                — False on merged-group continuations (the
                               reference nulls their img; only the group
                               head carries the merged crop) and on
                               degenerate (size-0) crops. DELIBERATE
                               DIVERGENCE: the reference sets img=None
                               for zero-area crops (infer_doc_onnx.py:
                               330-332) and then CRASHES in
                               calc_merged_wh (Image.fromarray(None))
                               for any merge group containing one —
                               singletons included; this engine degrades
                               gracefully instead (pinned both ways by
                               test_layout_differential.py::
                               test_merge_degenerate_crop_*);
      is_merged_continuation — True on non-head members of a merged
                               group (infer_doc_onnx.py:979-1007).
    Live only for UNSUFFIXED labels (torch path) — after the onnx path's
    numbering the text/non-merge label checks never match and every
    block is its own group (see module docstring). Differential-tested
    against the reference function (test_layout_differential.py).

    Grouping: consecutive MERGEABLE blocks chain when either
      is_cross      — both 'text', no horizontal projection overlap, the
                      next starts right of the previous with a gap
                      < 0.3×max width and tops overlapping; or
      is_updown     — both 'text', horizontal projection overlap, small
                      vertical gap (< 0.5×max height), EXACTLY ONE of
                      left/right edges aligned within 5px, AND the pair's
                      union box overlaps some OTHER block (the
                      reference's overlapwith_other_box gate — merge
                      happens only in crowded regions, utils.py:292-307).
    A group with merged aspect h/w ≥ 3 (w = max widths, h = sum heights
    of the int crops) is left unmerged. Non-merge blocks whose original
    index falls INSIDE a group's index range are re-emitted AFTER the
    group — merge can reorder the sequence."""
    for r in rows:
        w, h = _crop_dims(r["bbox"])
        r["_w"], r["_h"] = w, h
        r["has_img"] = w > 0 and h > 0
        r["is_merged_continuation"] = False

    mergeable = []  # (original index, row)
    non_merge: dict[int, dict] = {}
    for idx, r in enumerate(rows):
        if r["label"] in non_merge_labels:
            non_merge[idx] = r
        else:
            mergeable.append((idx, r))

    def aligned(a: float, b: float) -> bool:
        return abs(a - b) <= 5

    def union_overlaps_other(i_idx: int, p_idx: int) -> bool:
        pb, bb = rows[p_idx]["bbox"], rows[i_idx]["bbox"]
        ub = [
            min(pb[0], bb[0]), min(pb[1], bb[1]),
            max(pb[2], bb[2]), max(pb[3], bb[3]),
        ]
        return any(
            _overlap_union(ub, o["bbox"]) > 0
            for k, o in enumerate(rows)
            if k not in (i_idx, p_idx)
        )

    def h_proj_overlap(a, b) -> float:
        s = max(a[0], b[0])
        e = min(a[2], b[2])
        if e - s <= 0:
            return 0.0
        ref = max(a[2], b[2]) - min(a[0], b[0])
        return (e - s) / ref if ref > 0 else 0.0

    groups: list[tuple[list[int], list[str]]] = []  # (indices, aligns)
    cur_idx: list[int] = []
    cur_aligns: list[str] = []
    for i, (idx, r) in enumerate(mergeable):
        if not cur_idx:
            cur_idx, cur_aligns = [idx], []
            continue
        p_idx, prev = mergeable[i - 1]
        pb, bb = prev["bbox"], r["bbox"]
        iou_h = h_proj_overlap(bb, pb)
        both_text = r["label"] == "text" and prev["label"] == "text"
        is_cross = (
            iou_h == 0
            and both_text
            and bb[0] > pb[2]
            and bb[1] < pb[3]
            and bb[0] - pb[2] < max(pb[2] - pb[0], bb[2] - bb[0]) * 0.3
        )
        is_updown = (
            iou_h > 0
            and both_text
            and bb[3] >= pb[1]
            and abs(bb[1] - pb[3]) < max(pb[3] - pb[1], bb[3] - bb[1]) * 0.5
            and (aligned(bb[0], pb[0]) ^ aligned(bb[2], pb[2]))
            and union_overlaps_other(idx, p_idx)
        )
        if is_cross or is_updown:
            cur_idx.append(idx)
            if is_cross:
                cur_aligns.append("center")
            elif aligned(bb[0], pb[0]):
                cur_aligns.append("left")
            elif aligned(bb[2], pb[2]):
                cur_aligns.append("right")
            else:
                cur_aligns.append("center")
        else:
            groups.append((cur_idx, cur_aligns))
            cur_idx, cur_aligns = [idx], []
    if cur_idx:
        groups.append((cur_idx, cur_aligns))

    out: list[dict] = []
    used: set[int] = set()
    ranges = [(min(g), max(g), g, a) for g, a in groups]
    idx = 0
    n = len(rows)
    while idx < n:
        hit = False
        for start, end, g_indices, _aligns in ranges:
            if idx == start and all(k not in used for k in g_indices):
                hit = True
                widths = [rows[k]["_w"] for k in g_indices]
                heights = [rows[k]["_h"] for k in g_indices]
                w = max(widths)
                h = sum(heights)
                aspect = (h / w) if w != 0 else float("inf")
                merge = aspect < 3
                for j, k in enumerate(g_indices):
                    r = rows[k]
                    if merge and j > 0:
                        r["has_img"] = False
                        r["is_merged_continuation"] = True
                    out.append(r)
                    used.add(k)
                for k in range(start + 1, end):
                    if k in non_merge:
                        out.append(non_merge[k])
                        used.add(k)
                idx = end + 1
                break
        if hit:
            continue
        if idx in non_merge and idx not in used:
            out.append(non_merge[idx])
            used.add(idx)
        idx += 1
    for r in out:
        r.pop("_w", None)
        r.pop("_h", None)
    return out


def merge_blocks_op(
    blocks: DataFrame,
    non_merge_labels: tuple[str, ...] = IMAGE_LABELS + ("table",),
) -> DataFrame:
    """merge_block_rows as a per-doc Spark operator (SURVEY §2.8 G13).
    Adds (has_img boolean, is_merged_continuation boolean, post_order
    int — the post-merge sequence position). One shuffle on doc_id."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType(
        blocks.schema.fields
        + [
            T.StructField("has_img", T.BooleanType()),
            T.StructField("is_merged_continuation", T.BooleanType()),
            T.StructField("post_order", T.IntegerType()),
        ]
    )
    arrow_schema = to_arrow_schema(schema)

    def fn(table):
        import pyarrow as pa

        # sort_by is stable: equal custom_values keep their input order
        rows = table.sort_by("custom_value").to_pylist()
        merged = merge_block_rows(rows, non_merge_labels)
        for i, r in enumerate(merged):
            r["post_order"] = i
        return pa.Table.from_pylist(merged, schema=arrow_schema)

    return blocks.groupBy("doc_id").applyInArrow(fn, schema=schema)


# ------------------------------------------------- order / route / figures


def order_and_label(blocks: DataFrame) -> DataFrame:
    """Reading order by model-emitted custom_value + per-doc 1-based
    GLOBAL sequence numbering `label_{idx:02d}` — idx is the block's
    position in the doc's full ordered list, NOT a per-label counter
    (infer_doc_onnx.py:459-466 numbers with enumerate(boxes, start=1);
    SURVEY W2/W3). One window, one shuffle on doc_id. Also stamps
    has_img (crop_by_boxes would produce an empty slice for a
    degenerate int-truncated bbox, infer_doc_onnx.py:330-332)."""
    w = Window.partitionBy("doc_id").orderBy("custom_value")
    rn = F.row_number().over(w)
    iw = F.col("bbox")[2].cast("int") - F.col("bbox")[0].cast("int")
    ih = F.col("bbox")[3].cast("int") - F.col("bbox")[1].cast("int")
    return blocks.select(
        "*",
        rn.alias("reading_order"),
        F.concat(F.col("label"), F.format_string("_%02d", rn)).alias("block_id"),
        ((iw > 0) & (ih > 0)).alias("has_img"),
    )


def route(blocks: DataFrame, use_chart_recognition: bool = True) -> DataFrame:
    """Per-label task routing with the onnx path's OBSERVED semantics
    over the NUMBERED label (infer_doc_onnx.py:903-918; see module
    docstring): image-kind base labels and imgless blocks skip
    recognition (task NULL); 'table' substring → table_rec;
    `block_label == 'chart'` kept verbatim although a suffixed label can
    never equal it (chart therefore OCR-routes when chart recognition is
    on, and is image-kind when off); 'formula' substring minus an exact
    'formula_number' match → formula_rec — which DOES match
    formula_number_NN (the reference's exclusion is defeated by the
    suffix)."""
    img_labels = image_label_set(use_chart_recognition)
    bid = F.col("block_id")
    task = (
        F.when(bid.contains("table"), F.lit("table_rec"))
        .when(
            (bid == "chart") & F.lit(use_chart_recognition), F.lit("chart_rec")
        )
        .when(
            bid.contains("formula") & (bid != "formula_number"),
            F.lit("formula_rec"),
        )
        .otherwise(F.lit("ocr"))
    )
    no_rec = F.col("label").isin(*img_labels) | ~F.col("has_img")
    return blocks.withColumn(
        "task", F.when(no_rec, F.lit(None).cast("string")).otherwise(task)
    )


@functools.lru_cache(maxsize=None)
def figure_token_numbers(n: int) -> list[int]:
    """The reference's seeded token-number assignment
    (utils.py:494-511): the first n integers whose decimal digits avoid
    {0,1,9}, shuffled with the stdlib Mersenne generator seeded 1024 —
    deterministic per n, identical for every table in a doc. Cached per
    n: callers must not mutate the returned list."""
    seq: list[int] = []
    i = 0
    while len(seq) < n:
        if not (set(str(i)) & {"0", "1", "9"}):
            seq.append(i)
        i += 1
    _random.Random(1024).shuffle(seq)
    return seq


def _figure_token(fig_idx: int, n_figs: int) -> str:
    """The `[F{n}]` token of a doc's fig_idx-th figure out of n_figs."""
    return f"[F{figure_token_numbers(n_figs)[fig_idx]}]"


def figure_img_path(label: str, bbox) -> str:
    """imgs_in_doc path format (infer_doc_onnx.py:886-892)."""
    x1, y1, x2, y2 = (int(v) for v in bbox)
    return f"imgs/img_in_{label}_box_{x1}_{y1}_{x2}_{y2}.jpg"


def figures_in_tables(
    blocks: DataFrame, use_chart_recognition: bool = True
) -> DataFrame:
    """Figure-in-table tokenization (SURVEY §2.3 J5,
    utils.py:478-535 tokenize_figure_of_table + infer_doc_onnx.py:880-892
    imgs_in_doc): image-kind blocks (IMAGE_LABELS, img present) are
    indexed per doc in reading order; for each table, every figure whose
    bbox lies fully inside the table's is dropped from standalone
    markdown (in_table), and — if its int-crop min dimension is ≥ 25px —
    painted into the table crop as token `[F{n}]` whose untokenize
    replacement is `<img src="{imgs_in_doc path}" >`. n comes from
    figure_token_numbers(len(doc figures)) indexed by the figure's
    DOC-LEVEL position, so tokens depend on non-contained figures too.

    Expressed as a real Spark join — equi on doc_id, theta on
    containment — so it distributes; per-doc pair counts are dozens.
    Requires order_and_label output (block_id/has_img present)."""
    img_labels = image_label_set(use_chart_recognition)
    wdoc = Window.partitionBy("doc_id").orderBy("reading_order")
    figs = (
        blocks.filter(F.col("label").isin(*img_labels) & F.col("has_img"))
        .select(
            "doc_id", "label", "bbox", "reading_order",
            F.col("custom_value").alias("f_order"),
        )
        .select(
            "*",
            (F.row_number().over(wdoc) - 1).alias("fig_idx"),
            F.count("*").over(Window.partitionBy("doc_id")).alias("n_figs"),
        )
    )
    t = blocks.filter(F.col("block_id").contains("table")).select(
        "doc_id",
        F.col("bbox").alias("t_bbox"),
        F.col("custom_value").alias("t_order"),
    )
    contained = (
        (F.col("bbox")[0] >= F.col("t_bbox")[0])
        & (F.col("bbox")[1] >= F.col("t_bbox")[1])
        & (F.col("bbox")[2] <= F.col("t_bbox")[2])
        & (F.col("bbox")[3] <= F.col("t_bbox")[3])
    )
    pairs = t.join(figs, "doc_id").filter(contained)
    token_udf = F.udf(_figure_token, "string", useArrow=True)

    # the too-small-to-tokenize rule uses RAW float extents (utils.py:522)
    min_dim = F.least(
        F.col("bbox")[2] - F.col("bbox")[0],
        F.col("bbox")[3] - F.col("bbox")[1],
    )
    return pairs.select(
        "doc_id",
        "t_order",
        "f_order",
        "fig_idx",
        F.when(min_dim >= 25, token_udf("fig_idx", "n_figs")).alias("token"),
        F.format_string(
            '<img src="imgs/img_in_%s_box_%d_%d_%d_%d.jpg" >',
            F.col("label"),
            F.col("bbox")[0].cast("int"),
            F.col("bbox")[1].cast("int"),
            F.col("bbox")[2].cast("int"),
            F.col("bbox")[3].cast("int"),
        ).alias("fig_md"),
    )


def untokenize(text: str, token_to_md: dict[str, str]) -> str:
    """Replace [Fn] placeholder tokens in recognized table text with
    their <img src> html (utils.py:537-555 untokenize_figure_of_table,
    regex-driven: unknown token numbers are left in place)."""
    return re.sub(
        r"\[F(\d+)\]",
        lambda m: token_to_md.get(m.group(0), m.group(0)),
        text,
    )


def assemble_markdown(blocks: DataFrame) -> DataFrame:
    """Per-doc markdown assembly with the FULL per-label handler set
    (to_markdown.py:90-448 semantics — headings, lists, figures, tables
    with attribute repair, display formulas, code fences, boilerplate
    skip list; functions/markdown.py). Labels here are BASE labels — the
    MarkdownConverter sink belongs to the torch path, which never
    suffixes (see module docstring). The per-block conversion runs as
    an Arrow-batched row UDF over block_markdown (no kernel state); the
    per-doc ordered concatenation stays JVM-side (one groupBy shuffle).

    Input: doc_parse output (doc_id, label, text, reading_order,
    custom_value). section_count is the block's 0-based position in the
    doc's full ordered block list (reading_order − 1) — skipped blocks
    still advance it, matching the reference's enumerate over
    recognition_results (to_markdown.py:390)."""
    from openocr_spark.functions.markdown import block_markdown

    md_udf = F.udf(block_markdown, "string", useArrow=True)
    frag = blocks.select(
        "doc_id",
        "custom_value",
        md_udf(F.col("label"), F.col("text"), F.col("reading_order") - 1).alias(
            "md"
        ),
    )
    ordered = frag.select(
        "doc_id", F.struct(F.col("custom_value"), F.col("md")).alias("s")
    )
    return ordered.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda s: s["md"]),
            "",
        ).alias("markdown")
    )
