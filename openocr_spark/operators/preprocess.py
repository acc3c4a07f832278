"""Media preprocessing / training-target generation as a Spark stage
(SURVEY G7/G8/G11/G15/G16-17 plumbing): one row-kernel pass per media
payload runs the pixel kernels (kernels/preprocess.py) and emits the
shapes/ratios/target statistics a training-data pipeline materializes.

This is the DBNet label-encode job shape at 100 TB: embarrassingly
parallel per media, no shuffle at all (the media_ref scan partitioning
carries through); output is a columnar stats/targets table partitioned
like the input. Targets themselves (shrink/border maps) stay inside
the kernel here — at scale you'd write them as binary tensor columns
next to the stats.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from openocr_spark.rowmap import map_rows

PREPROC_SCHEMA = (
    "media_ref string, h int, w int, resized_h int, resized_w int, "
    "ratio_h double, ratio_w double, shrink_pos long, mask_zero long, "
    "border_mask_pos long, border_sum double, crop_h int, crop_w int, "
    "pad_valid_ratio double"
)


def det_training_targets(
    media_refs: DataFrame,
    limit_side_len: int = 64,
    limit_type: str = "resize_long",
    rec_h: int = 32,
    rec_w: int = 128,
) -> DataFrame:
    """Per-media preprocessing + training-target statistics:
    G7 det_resize shape/ratios, G15 shrink/border target counts,
    G11 content-crop shape (on the inverted page-like image),
    G16/G17 keep-ratio pad valid-width ratio. The emitted statistics
    depend only on the resize-family SHAPE arithmetic (det_resize_shape
    and the keep-ratio width formula) — the pixel gathers themselves
    are not run here (their byte-exactness is pinned directly by
    test_preprocess golden tests); running them per media was measured
    dead compute on this stats path."""
    from openocr_spark.fixtures import payload_for_media_ref
    from openocr_spark.kernels.preprocess import (
        crop_margin,
        det_stats_shapes,
        make_border_map,
        make_shrink_map,
    )

    # resize shapes depend only on (h, w) — cache per media shape
    # across the task (the RatioDataSet same-shape bucketing idea)
    det_shapes: dict[tuple[int, int], tuple] = {}

    def kernel(row):
        ref = row["media_ref"]
        # logits skipped: this job consumes geometry + score maps only;
        # logit synthesis was ~45% of payload cost
        p = payload_for_media_ref(ref, with_logits=False)
        prob = p["score_map"]
        h, w = prob.shape
        if (h, w) not in det_shapes:
            # incl. DetResizeForTest's tiny-input pre-pad — ratios are
            # resize/PADDED dims (fixture_oracle lockstep; pinned in
            # test_preprocess_differential)
            det_shapes[h, w] = det_stats_shapes(
                h, w, limit_side_len, limit_type, rec_h, rec_w
            )
        ph, pw, rh, rw, nw = det_shapes[h, w]
        rects = [
            (
                float(r["points"][0][0]), float(r["points"][0][1]),
                float(r["points"][2][0]), float(r["points"][2][1]),
            )
            for r in p["regions"]
        ]
        ignore = [bool(r["ignore"]) for r in p["regions"]]
        gt, mask = make_shrink_map(rects, ignore, h, w)
        border, bmask = make_border_map(rects, ignore, h, w)
        page = ((1.0 - prob) * 255.0).astype(np.uint8)  # ink-on-paper
        cropped = crop_margin(page)
        valid = nw / float(rec_w)  # G16/G17 keep-ratio pad share
        yield {
            "media_ref": ref,
            "h": h, "w": w,
            "resized_h": rh,
            "resized_w": rw,
            "ratio_h": round(rh / float(ph), 6),
            "ratio_w": round(rw / float(pw), 6),
            "shrink_pos": int((gt == 1.0).sum()),
            "mask_zero": int((mask == 0.0).sum()),
            "border_mask_pos": int((bmask == 1.0).sum()),
            # rounded to 2 decimals: the oracle rasterizes with a
            # different (regional) distance formula, equal up to
            # float32 ulps
            "border_sum": round(float(border.sum()), 2),
            "crop_h": cropped.shape[0],
            "crop_w": cropped.shape[1],
            "pad_valid_ratio": round(valid, 6),
        }

    return map_rows(media_refs.select("media_ref"), kernel, PREPROC_SCHEMA)
