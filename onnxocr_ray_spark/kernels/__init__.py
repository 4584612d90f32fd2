"""Pure-Python deterministic kernels.

These are the analog of the reference's numpy/OpenCV kernel library
(`onnxocr/operators.py`, `onnxocr/db_postprocess.py`, `onnxocr/utils.py`,
`onnxocr/rec_postprocess.py`): side-effect-free functions over plain data.
They are shared verbatim by the Spark `mapInArrow` stages and by the
single-process oracle (`onnxocr_ray_spark.oracle`), so byte-identity between
the distributed and serial paths reduces to proving that partitioning,
batching, salting, and straggler splitting never change *which* kernel calls
happen with *which* inputs — exactly the determinism contract of
SURVEY.md §4.1.
"""

from onnxocr_ray_spark.kernels.html import decode_html, tokenize_blocks
from onnxocr_ray_spark.kernels.detect import detect_regions
from onnxocr_ray_spark.kernels.classify import classify_angle
from onnxocr_ray_spark.kernels.recognize import recognize_span, pack_batches
from onnxocr_ray_spark.kernels.sort import sorted_boxes

__all__ = [
    "decode_html",
    "tokenize_blocks",
    "detect_regions",
    "classify_angle",
    "recognize_span",
    "pack_batches",
    "sorted_boxes",
]
