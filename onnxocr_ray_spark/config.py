"""Pipeline configuration.

Mirrors the knob surface of the reference's flattened YAML config
(`/root/reference/config.yaml:19-30,63-68,86-96`, loaded by
`onnxocr/utils.py:260-343`), re-expressed as an explicit frozen dataclass —
no ``eval()`` of config content (the reference evaluates config strings at
`onnxocr/operators.py:12` and `onnxocr/imaug.py:30`; we deliberately do not).

The same object is used by the Spark stages and by the serial oracle, and is
small enough to ship inside task closures (Spark pickles it once per task
set; no per-row cost).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Callable, Optional, Tuple


@dataclass(frozen=True)
class ExtractConfig:
    """Thresholds and shape knobs for the three-stage extraction pipeline.

    Names and defaults follow the reference config surface:

    - ``det_db_thresh=0.3``        (`config.yaml:25`)  — candidate binarize
    - ``det_db_box_thresh=0.6``    (`config.yaml:26`)  — region score filter
    - ``det_db_unclip_ratio=1.5``  (`config.yaml:27`)  — region dilation
    - ``min_size=3``               (`db_postprocess.py:51`) — min box side, px
    - ``max_candidates=1000``      (`predict_det.py:34`) — contour cap
    - ``drop_score=0.5``           (`config.yaml:68`) — final confidence filter
      (the reference HTTP service overrides this to 0.1, `app-service.py:27`)
    - ``cls_thresh=0.9``           (`config.yaml:91`) — rotate-if-flipped gate
    - ``rec_batch_num=6``          (`config.yaml:63`; the classifier's own
      ``batch_num=6``, `config.yaml:90`, lives on ``OrtClassifier``)
    - ``rec_image_height=48``, seed aspect ratio ``320/48``
      (`onnx_paddleocr.py:39`, `predict_rec.py:98`)
    - ``sort_band_px=10``          (`onnx_paddleocr.py:26`) — reading-order band
    """

    # --- detect (DB-postprocess analogs) ---
    det_db_thresh: float = 0.3
    det_db_box_thresh: float = 0.6
    det_db_unclip_ratio: float = 1.5
    min_size: int = 3
    max_candidates: int = 1000
    use_dilation: bool = False
    # "quad" (default) emits 4-corner rects; "poly" emits the simplified
    # rectilinear outline of the block's text lines — the analog of the
    # reference's polygons_from_bitmap branch (db_postprocess.py:58-100,
    # reachable via det_box_type: poly, config.yaml:21)
    det_box_type: str = "quad"

    # --- classify ---
    use_angle_cls: bool = True            # forced true (onnx_paddleocr.py:37)
    cls_thresh: float = 0.9

    # --- recognize ---
    drop_score: float = 0.5
    rec_batch_num: int = 6
    rec_image_height: int = 48
    rec_seed_ratio: float = 320.0 / 48.0  # predict_rec.py:98

    # --- geometry of the synthetic raster space ---
    # HTML documents are laid out on a deterministic character grid; one
    # character cell is CHAR_W x CHAR_H "pixels". Line pitch 16 px > the
    # 10 px reading-order band, so adjacent lines are NOT banded; the
    # bounded bubble pass of sorted_boxes (`onnx_paddleocr.py:25-32`)
    # fires for same-row regions whose unclip offsets jitter y0 within the
    # band — where it enforces left-to-right order exactly as the
    # reference does for same-row text boxes.
    char_w: int = 8
    char_h: int = 16
    sort_band_px: float = 10.0

    # --- scale mechanics (no reference analog; SURVEY.md §4.3 custom work) ---
    coalesce_target_bytes: int = 4 << 20  # dynamic batch coalescing budget

    # --- scoring weights for the content-density heuristic (detect) ---
    tag_weight: float = 3.0

    # --- real-model provider wiring (models.py stage_providers) ---
    # None everywhere = the deterministic stand-in kernels (the default
    # everywhere in this container). Setting the model paths routes the
    # classify/recognize stages through OrtClassifier/OrtRecognizer over
    # synthetic crop rasters (rasterize.render_crop): ship the .onnx via
    # --files / SparkFiles and pass its worker-local path; rec_charset is
    # the recognizer's decode dictionary (the reference's
    # rec_char_dict_path contents) and is REQUIRED with rec_model_path.
    # provider_factory is the dependency-injection hook (tests drive the
    # full ORT path through it with a cloudpickled fake-ORT factory): a
    # zero-arg callable built INSIDE each worker returning
    # (classifier, recognizer) with the models.py call contracts.
    cls_model_path: Optional[str] = None
    rec_model_path: Optional[str] = None
    rec_charset: Optional[Tuple[str, ...]] = None
    provider_factory: Optional[Callable[[], Tuple[Callable, Callable]]] = None


DEFAULT_CONFIG = ExtractConfig()

# Service-parity variant: the FastAPI layer forces drop_score=0.1
# (app-service.py:27).
SERVICE_CONFIG = replace(DEFAULT_CONFIG, drop_score=0.1)
