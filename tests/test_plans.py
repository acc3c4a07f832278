"""Physical-plan assertions: pushdown reaches the scan, column pruning
holds, small dims broadcast, and the extraction pipeline carries exactly
its structural shuffle budget (SURVEY §4)."""

from pyspark.sql import functions as F

from openocr_spark import plans, schemas
from openocr_spark.fixtures import (
    documents_df,
    gen_documents_pdf,
    gen_media_payloads_pdf,
    media_refs_of,
)
from openocr_spark.operators.extract import extract
from openocr_spark.queries import SPARK_Q

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark):
    df = SPARK_Q["filter_project"](spark, SF)
    pf = plans.pushed_filters(df)
    assert "o_totalprice" in pf and "o_orderstatus" in pf


def test_column_pruning(spark):
    df = SPARK_Q["filter_project"](spark, SF)
    cols = plans.read_schema_columns(df)
    assert set(cols) == {"o_orderkey", "o_custkey", "o_orderpriority",
                         "o_totalprice", "o_orderstatus"}


def test_dim_join_broadcasts(spark):
    assert plans.uses_broadcast_join(SPARK_Q["broadcast_dim_join"](spark, SF))


def test_small_side_autobroadcasts_in_join_agg(spark):
    # AQE/broadcast threshold should pick broadcast for customer at sf0.01
    df = SPARK_Q["join_agg"](spark, SF)
    assert plans.uses_broadcast_join(df) or "SortMergeJoin" in plans.physical_plan(df)


def test_extract_shuffle_budget(spark):
    """The pipeline's structural shuffles: 1 salted media repartition +
    1 assembly groupBy (+1 union-side agg partial counts as part of the
    same exchange pair). No hidden extras like a join back to input."""
    docs = documents_df(spark, 50)
    out = extract(docs)
    n = plans.count_exchanges(out)
    assert n <= 3, plans.physical_plan(out)
    plan = plans.physical_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    _assert_arrow_kernel(extract(_local(spark, gen_documents_pdf(50), schemas.DOCUMENTS)))


def _local(spark, pdf, schema):
    """A fixture table as a local relation: no Python stage of its own,
    so every Python node in a plan over it belongs to the pipeline."""
    return spark.createDataFrame(pdf.to_dict("records"), schema=schema)


def _assert_arrow_kernel(df) -> None:
    """One kernel shape: the Python stage is Arrow batch in, Arrow batch
    out — never a pandas round trip."""
    plan = plans.physical_plan(df)
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan


def _row_map_cases(spark, tmp_path):
    """Operators on the row-map helper, each over an empty input:
    name → (output frame, its declared output schema)."""
    from openocr_spark.fixtures import LAYOUT_SCHEMA
    from openocr_spark.operators.doc_parse import doc_parse
    from openocr_spark.operators.ingest import interleave
    from openocr_spark.operators.metrics import det_partials, extract_detail, gt_regions
    from openocr_spark.operators.multimodal import AUDIO_SCHEMA, audio_stats
    from openocr_spark.operators.preprocess import PREPROC_SCHEMA, det_training_targets
    from openocr_spark.sources.readers import read_webdataset

    def empty(ddl):
        return spark.createDataFrame([], ddl)

    refs = empty("media_ref string")
    quads = "media_ref string, points array<array<int>>"
    empty_dir = tmp_path / "no_shards"
    empty_dir.mkdir()
    return {
        "gt_regions": (
            gt_regions(refs),
            "media_ref string, gt_idx int, points array<array<int>>, "
            "ignore boolean, gt_text string",
        ),
        "extract_detail": (extract_detail(refs), schemas.DET_REC_DETAIL),
        "det_partials": (
            det_partials(empty(quads), empty(quads + ", ignore boolean")),
            "media_ref string, n_gt_care long, n_det_care long, n_matched long",
        ),
        "det_training_targets": (det_training_targets(refs), PREPROC_SCHEMA),
        "interleave": (
            interleave(empty("doc_id string, text string")), schemas.DOCUMENTS
        ),
        "documents_df": (documents_df(spark, 0), schemas.DOCUMENTS),
        "doc_parse": (
            doc_parse(empty(LAYOUT_SCHEMA)),
            "doc_id string, block_id string, label string, task string, "
            "reading_order int, bbox array<double>, custom_value double, "
            "has_img boolean, text string",
        ),
        "audio_stats": (
            audio_stats(empty("media_ref string, payload binary")), AUDIO_SCHEMA
        ),
        "read_webdataset": (
            read_webdataset(spark, str(empty_dir)),
            "shard string, key string, ext string, data binary",
        ),
    }


def _assert_arrow_group_map(df) -> None:
    """Per-doc groups go to Python as one Arrow table each."""
    plan = plans.physical_plan(df)
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def _assert_arrow_row_udf(df) -> None:
    """Scalar Python columns are Arrow-batched row UDFs: ArrowEvalPython
    with the row eval type, never the pickled BatchEvalPython or a
    pandas Series UDF (which also plans as ArrowEvalPython)."""
    from pyspark.util import PythonEvalType

    plan = plans.physical_plan(df)
    eval_types = {
        ln.rsplit(", ", 1)[-1]
        for ln in plan.splitlines()
        if "ArrowEvalPython" in ln
    }
    assert eval_types == {str(PythonEvalType.SQL_ARROW_BATCHED_UDF)}, plan
    assert "BatchEvalPython" not in plan, plan


def _arrow_udf_cases(spark):
    """Grouped and scalar Python stages, each over an empty input:
    name → (plan check, output frame, declared schema, expected rows)."""
    from openocr_spark.fixtures import LAYOUT_SCHEMA
    from openocr_spark.operators.layout import (
        assemble_markdown,
        figures_in_tables,
        filter_overlap_blocks,
        merge_blocks_op,
        order_and_label,
    )
    from openocr_spark.operators.longtext import merge_slices
    from openocr_spark.operators.metrics import cmer_metric

    blocks = spark.createDataFrame([], LAYOUT_SCHEMA)
    group, row = _assert_arrow_group_map, _assert_arrow_row_udf
    return {
        "filter_overlap_blocks": (
            group, filter_overlap_blocks(blocks), LAYOUT_SCHEMA, []
        ),
        "merge_blocks_op": (
            group,
            merge_blocks_op(blocks),
            LAYOUT_SCHEMA + ", has_img boolean, "
            "is_merged_continuation boolean, post_order int",
            [],
        ),
        "figures_in_tables": (
            row,
            figures_in_tables(order_and_label(blocks)),
            "doc_id string, t_order double, f_order double, fig_idx int, "
            "token string, fig_md string",
            [],
        ),
        "assemble_markdown": (
            row,
            assemble_markdown(order_and_label(blocks)),
            "doc_id string, markdown string",
            [],
        ),
        "merge_slices": (
            row,
            merge_slices(
                spark.createDataFrame([], "id string, slice_idx int, slice string")
            ),
            "id string, merged string",
            [],
        ),
        "cmer_metric": (
            row,
            cmer_metric(spark.createDataFrame([], "pred string, gt string")),
            "rouge1 double, rouge2 double, rougeL double, bleu double, "
            "edit_distance double, num_samples long",
            [(0.0, 0.0, 0.0, 0.0, 0.0, 0)],  # the reference's all-zero row
        ),
    }


def test_media_kernels_plan_as_map_in_arrow(spark, tmp_path):
    import numpy as np

    from pyspark.sql import types as T

    from openocr_spark.kernels.media_decode import (
        decode_media,
        encode_fake,
        extract_features,
    )

    pdf = gen_documents_pdf(20)
    payloads = gen_media_payloads_pdf(media_refs_of(pdf))
    _assert_arrow_kernel(extract(
        _local(spark, pdf, schemas.DOCUMENTS),
        _local(spark, payloads, schemas.MEDIA_PAYLOADS),
    ))
    media = spark.createDataFrame(
        [("d0", "m0", encode_fake([np.zeros((4, 6), dtype=np.uint8)]))],
        "doc_id string, media_ref string, content binary",
    )
    _assert_arrow_kernel(extract_features(decode_media(media)))

    for name, (out, schema) in _row_map_cases(spark, tmp_path).items():
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        _assert_arrow_kernel(out)
        assert out.schema == schema, name
        assert out.collect() == [], name

    for name, (check, out, ddl, rows) in _arrow_udf_cases(spark).items():
        check(out)
        # names and types: the select around a row UDF sets nullability
        assert out.schema.simpleString() == (
            T.StructType.fromDDL(ddl).simpleString()
        ), name
        assert [tuple(r) for r in out.collect()] == rows, name


def test_package_has_no_map_in_pandas_sites():
    """New Python stages use the Arrow kernel shapes (rowmap.map_rows or a
    hand-written mapInArrow kernel, applyInArrow per group, udf with
    useArrow=True per scalar column), never a pandas round trip. The one
    exception is streaming state (applyInPandasWithState)."""
    import pathlib

    import openocr_spark

    pkg = pathlib.Path(openocr_spark.__file__).parent
    hits = [
        f"{path.relative_to(pkg.parent)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if any(
            site in line
            for site in ("mapInPandas(", "applyInPandas(", "pandas_udf")
        )
    ]
    assert not hits, hits


def test_cosine_topk_is_distributed_takeordered(spark):
    """The brute-force top-k must plan as TakeOrderedAndProject (per-
    partition local top-k, driver merge) — NOT a global row_number
    window, which shuffles every scored row to one partition
    (VERDICT r1 finding 1)."""
    df = SPARK_Q["cosine_topk"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_ivf_is_distributed_takeordered(spark):
    df = SPARK_Q["ann_ivf"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_ivf_trained_is_distributed_takeordered(spark):
    df = SPARK_Q["ann_ivf_trained"](spark, SF)
    plan = plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_extract_spans_scan_prunes_columns(spark):
    """The flagship over the driver table must only read doc_id+text."""
    from openocr_spark.operators.ingest import interleave

    docs = interleave(spark.read.parquet(f"{SF}/documents.parquet"))
    cols = plans.read_schema_columns(docs)
    assert set(cols) == {"doc_id", "text"}


def test_scan_metrics_unwrap_adaptive_plans(spark):
    """AdaptiveSparkPlanExec is itself a LeafExecNode: without
    unwrapping, any AQE-planned query (anything with an exchange —
    i.e. every real pruning candidate) reports ZERO scans and a
    pruning assert goes vacuous."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(f"{SF}/orders.parquet")
    agg = df.groupBy("o_orderstatus").agg(F.sum("o_totalprice").alias("s"))
    agg.collect()
    m = plans.executed_scan_metrics(agg)
    assert m and any("numFiles" in d for d in m), m
