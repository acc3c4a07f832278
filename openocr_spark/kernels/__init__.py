"""Kernel space: pure numpy functions that run inside Arrow-batched
Python stages (the extraction and media-decode kernels are `mapInArrow`:
Arrow batch in, Arrow batch out). Nothing here touches Spark;
everything is deterministic and unit-testable on plain arrays.

The reference's neural kernels are replaced by deterministic surrogate
kernels with identical *operator semantics* (SURVEY.md §7.0): detection is
binarize → connected components → box filtering/expansion → reading order;
recognition is per-timestep logits → CTC greedy decode. Interfaces are
`ndarray → ndarray`, so real ONNX models can be dropped in behind the same
Arrow kernel boundary later (SURVEY §4 O8).
"""

from openocr_spark.kernels.detection import (  # noqa: F401
    connected_components,
    detect_boxes,
    sorted_boxes,
)
from openocr_spark.kernels.recognition import ctc_greedy_decode  # noqa: F401
