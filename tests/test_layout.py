"""Layout operator tests over a hand-built F-D fixture (FIXTURES.md):
overlap pairs, reference pre-drop, global numbering, suffix routing,
reference-exact merge, boilerplate labels. The repo-vs-reference pinning
lives in test_layout_differential.py; these are fast unit checks of the
Spark operators."""

import pytest
from pyspark.sql import functions as F

from openocr_spark.operators.layout import (
    assemble_markdown,
    filter_overlap_blocks,
    merge_blocks_op,
    order_and_label,
    route,
    score_filter,
)

SCHEMA = (
    "doc_id string, cls_id int, label string, score double, "
    "bbox array<double>, custom_value double, text string"
)


@pytest.fixture(scope="module")
def blocks(spark):
    rows = [
        # d1: title, two aligned text blocks, an overlapped pair,
        # a footer (boilerplate), an image overlapping text (exempt pair)
        ("d1", 0, "doc_title", 0.95, [10.0, 5.0, 200.0, 20.0], 1.0, "My Title"),
        ("d1", 1, "text", 0.9, [10.0, 30.0, 200.0, 60.0], 2.0, "para one"),
        ("d1", 1, "text", 0.9, [10.0, 62.0, 200.0, 90.0], 3.0, "continues here"),
        ("d1", 2, "table", 0.8, [10.0, 100.0, 200.0, 150.0], 4.0, "<fcel>x"),
        # overlapped pair: smaller should drop (overlap-over-smaller > 0.7)
        ("d1", 1, "text", 0.7, [20.0, 160.0, 100.0, 200.0], 5.0, "big block"),
        ("d1", 1, "text", 0.6, [25.0, 165.0, 60.0, 195.0], 6.0, "small dup"),
        # image overlapping text — exempt from dedup
        ("d1", 3, "image", 0.9, [20.0, 160.0, 100.0, 200.0], 7.0, None),
        # reference block — dropped OUTRIGHT by the overlap filter
        ("d1", 5, "reference", 0.9, [10.0, 220.0, 200.0, 260.0], 7.5, "refs"),
        ("d1", 4, "footer", 0.9, [10.0, 280.0, 200.0, 295.0], 8.0, "page 1"),
        # low score block — dropped by score filter
        ("d1", 1, "text", 0.2, [0.0, 0.0, 5.0, 5.0], 9.0, "noise"),
        # d2: formula + chart + formula_number routing
        ("d2", 5, "display_formula", 0.9, [0.0, 0.0, 50.0, 10.0], 1.0, "E=mc^2"),
        ("d2", 6, "chart", 0.9, [0.0, 20.0, 50.0, 40.0], 2.0, "chart data"),
        ("d2", 7, "formula_number", 0.9, [55.0, 0.0, 70.0, 10.0], 3.0, "(1)"),
        ("d2", 8, "header_image", 0.9, [0.0, 50.0, 40.0, 60.0], 4.0, None),
    ]
    return spark.createDataFrame(rows, schema=SCHEMA)


def test_score_filter(blocks):
    out = score_filter(blocks, 0.4)
    assert out.filter(F.col("text") == "noise").count() == 0
    assert out.count() == blocks.count() - 1


def test_overlap_dedup_drops_smaller_keeps_image_predrops_reference(spark, blocks):
    extra = spark.createDataFrame(
        [
            ("d1", 9, None, 0.9, [10.0, 300.0, 200.0, 340.0], 8.5, "no label"),
            ("d3", 5, "reference", 0.9, [0.0, 0.0, 50.0, 50.0], 1.0, "only refs"),
        ],
        schema=SCHEMA,
    )
    out = filter_overlap_blocks(score_filter(blocks.union(extra), 0.4)).collect()
    texts = {r["text"] for r in out}
    assert "small dup" not in texts  # smaller of overlapping same-kind pair
    assert "big block" in texts
    assert any(r["label"] == "image" for r in out)  # image-vs-text exempt
    # label=='reference' is removed before the scan (utils.py:140-144)
    assert not any(r["label"] == "reference" for r in out)
    # a NULL label is not 'reference': the block stays
    assert "no label" in texts
    assert not any(r["doc_id"] == "d3" for r in out)  # all-reference doc


def test_merge_blocks_op(spark):
    """Reference-exact merge on unsuffixed labels: one aligned-left text
    pair in a crowded region merges (head keeps img, continuation
    doesn't); the aspect≥3 guard blocks tall groups."""
    rows = [
        # pair: left edges aligned, right edges differ >5px, small gap;
        # the third block overlaps the pair's union box (the
        # overlapwith_other_box gate)
        ("d1", 1, "text", 0.9, [10.0, 0.0, 200.0, 40.0], 1.0, "a"),
        ("d1", 1, "text", 0.9, [10.0, 42.0, 150.0, 80.0], 2.0, "b"),
        ("d1", 3, "image", 0.9, [160.0, 30.0, 220.0, 90.0], 3.0, None),
    ]
    blocks = spark.createDataFrame(rows, schema=SCHEMA)
    out = sorted(merge_blocks_op(blocks).collect(), key=lambda r: r["post_order"])
    flags = [(r["text"], r["has_img"], r["is_merged_continuation"]) for r in out]
    assert flags == [
        ("a", True, False),
        ("b", False, True),
        (None, True, False),
    ]


def test_order_and_label_global_numbering(blocks):
    """W3: the numbering suffix is the GLOBAL ordered index
    (infer_doc_onnx.py:464-466), not a per-label counter."""
    out = order_and_label(blocks.filter(F.col("doc_id") == "d1")).collect()
    by_text = {r["text"]: r for r in out}
    assert by_text["My Title"]["reading_order"] == 1
    assert by_text["My Title"]["block_id"] == "doc_title_01"
    assert by_text["para one"]["block_id"] == "text_02"
    assert by_text["continues here"]["block_id"] == "text_03"
    assert by_text["<fcel>x"]["block_id"] == "table_04"


def test_route_suffix_semantics(blocks):
    """Routing over the NUMBERED label (infer_doc_onnx.py:903-918):
    chart's equality check never matches a suffixed label → OCR;
    formula_number's exclusion is defeated by the suffix → formula_rec;
    image-kind labels (IMAGE_LABELS) skip recognition."""
    staged = route(order_and_label(blocks))
    out = {(r["label"], r["task"]) for r in staged.collect()}
    assert ("table", "table_rec") in out
    assert ("display_formula", "formula_rec") in out
    assert ("formula_number", "formula_rec") in out
    assert ("chart", "ocr") in out
    assert ("text", "ocr") in out
    assert ("image", None) in out
    assert ("header_image", None) in out


def test_route_chart_off_is_image_kind(blocks):
    staged = route(order_and_label(blocks), use_chart_recognition=False)
    out = {(r["label"], r["task"]) for r in staged.collect()}
    assert ("chart", None) in out


def test_assemble_markdown(blocks):
    # assemble_markdown consumes ordered blocks (doc_parse output shape:
    # reading_order present) — stage with order_and_label here
    keep = order_and_label(filter_overlap_blocks(score_filter(blocks, 0.4)))
    md = {r["doc_id"]: r["markdown"] for r in assemble_markdown(keep).collect()}
    assert md["d1"].startswith("# My Title")
    assert "page 1" not in md["d1"]  # footer stripped (P7)
    assert "refs" not in md["d1"]  # reference pre-dropped (J4)
    assert "$$E=mc^2$$" in md["d2"]
    # chart text routed through the figure handler (F11)
    assert "![Figure" in md["d2"]


def test_dedup_matches_reference_edge_semantics():
    """Two semantics pinned to utils.py:129-168 exactly: (a) a block
    dropped mid-scan stops dropping later blocks; (b) the image
    exemption is label=='image' with DIFFERING labels — seal-vs-text
    still dedups, image-vs-seal is exempt, image-vs-image dedups."""
    from openocr_spark.operators.layout import _dedup_one_doc

    def run(rows):
        labels = [r["label"] for r in rows]
        boxes = [r["bbox"] for r in rows]
        return sorted(rows[i]["name"] for i in _dedup_one_doc(labels, boxes, 0.7))

    # (a) A dropped by B must not drop C (C overlaps only A)
    rows = [
        {"name": "A", "label": "text", "bbox": [0.0, 0.0, 10.0, 10.0]},
        {"name": "B", "label": "text", "bbox": [2.0, 0.0, 13.0, 10.0]},
        {"name": "C", "label": "text", "bbox": [0.0, 0.0, 2.0, 10.0]},
    ]
    assert run(rows) == ["B", "C"]

    # (b) seal-vs-text dedups (drop the smaller); image-vs-seal exempt
    rows = [
        {"name": "S", "label": "seal", "bbox": [0.0, 0.0, 8.0, 8.0]},
        {"name": "T", "label": "text", "bbox": [0.0, 0.0, 9.0, 9.0]},
    ]
    assert run(rows) == ["T"]
    rows = [
        {"name": "I", "label": "image", "bbox": [0.0, 0.0, 8.0, 8.0]},
        {"name": "S", "label": "seal", "bbox": [0.0, 0.0, 9.0, 9.0]},
    ]
    assert run(rows) == ["I", "S"]
    rows = [
        {"name": "I1", "label": "image", "bbox": [0.0, 0.0, 8.0, 8.0]},
        {"name": "I2", "label": "image", "bbox": [0.0, 0.0, 9.0, 9.0]},
    ]
    assert run(rows) == ["I2"]
