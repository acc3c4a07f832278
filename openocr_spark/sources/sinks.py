"""Result sinks.

system_results format (SURVEY §2.1 S9 — the reference's golden output
format, tools/infer_e2e.py:387-395): one line per media,
  `<name>\\t<JSON array of {"transcription", "points", "score"}>`
with JSON keys in that exact order and points as int pairs. This is the
regression format our golden tests diff against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def system_results_lines(
    detail: DataFrame, media_refs: DataFrame | None = None
) -> DataFrame:
    """DET_REC_DETAIL rows → one formatted line per media_ref.
    JVM-side: to_json on ordered structs + groupBy concat.

    Pass `media_refs` (a df with a media_ref column) to emit a line for
    EVERY input media — a media with zero detections gets `name\\t[]`,
    exactly like the reference writes a result line per input image
    (infer_e2e.py:387-395). Without it, empty media are absent."""
    span = F.struct(
        F.col("transcription").alias("transcription"),
        F.col("points").alias("points"),
        F.round(F.col("rec_score"), 6).alias("score"),
    )
    per_media = (
        detail.groupBy("media_ref")
        .agg(
            F.to_json(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("region_idx"), span.alias("s")))
                    ),
                    lambda x: x["s"],
                )
            ).alias("payload")
        )
    )
    if media_refs is not None:
        per_media = (
            media_refs.select("media_ref")
            .distinct()
            .join(per_media, "media_ref", "left")
            .select(
                "media_ref",
                F.coalesce(F.col("payload"), F.lit("[]")).alias("payload"),
            )
        )
    return per_media.select(
        F.concat_ws("\t", F.col("media_ref"), F.col("payload")).alias("line"),
        "media_ref",
    )


def write_system_results(
    detail: DataFrame, path: str, media_refs: DataFrame | None = None
) -> None:
    """Write the canonical results file (single file, sorted by name —
    matches the reference's sequential writer; for massive outputs use
    partitioned text instead)."""
    (
        system_results_lines(detail, media_refs)
        .orderBy("media_ref")
        .select("line")
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def write_extractions_json(extractions: DataFrame, path: str) -> None:
    """save_to_json analog (SURVEY S10, tools/infer_doc_onnx.py:1079-1205):
    one JSON object per document, text lines."""
    extractions.select(F.to_json(F.struct("*")).alias("line")).write.mode(
        "overwrite"
    ).text(path)
