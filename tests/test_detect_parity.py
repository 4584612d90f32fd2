"""Spark ``detect`` against the serial oracle's detect stage.

For every url, the detect stage's spans must equal
``kernels.pipeline.detect_sorted`` over the same html, carrying the
recognize-stage batch packing (``pack_batches`` over ``_ratio``) that
the oracle computes per document — at the default byte budget and with
``coalesce_target_bytes=1`` (one document per Arrow output batch).
"""

from dataclasses import replace

import pytest

from onnxocr_ray_spark.config import DEFAULT_CONFIG
from onnxocr_ray_spark.kernels.pipeline import _ratio, detect_sorted
from onnxocr_ray_spark.kernels.recognize import pack_batches
from onnxocr_ray_spark.operators.extract import detect
from onnxocr_ray_spark.sources.pages import pages_table

from tests.conftest import SF0001


def _oracle_spans(html, cfg):
    regions = detect_sorted(html, cfg)
    batch_id, rec_width, _ = pack_batches(
        [_ratio(r.box) for r in regions],
        cfg.rec_batch_num, cfg.rec_image_height, cfg.rec_seed_ratio,
    )
    return [
        ([list(p) for p in r.box], r.det_score, r.raw, batch_id[i], rec_width[i])
        for i, r in enumerate(regions)
    ]


@pytest.fixture(scope="module")
def pages(spark):
    return pages_table(spark, SF0001)


@pytest.fixture(scope="module")
def oracle(pages):
    rows = pages.select("url", "html").collect()
    return {
        r["url"]: _oracle_spans(
            bytes(r["html"]) if r["html"] is not None else None, DEFAULT_CONFIG
        )
        for r in rows
    }


@pytest.mark.parametrize("budget", [DEFAULT_CONFIG.coalesce_target_bytes, 1])
def test_detect_matches_oracle_detect_stage(pages, oracle, budget):
    cfg = replace(DEFAULT_CONFIG, coalesce_target_bytes=budget)
    got = {r["url"]: r for r in detect(pages, cfg).collect()}
    assert set(got) == set(oracle)
    assert any(oracle.values()) and not all(oracle.values())
    for url, want in oracle.items():
        spans = got[url]["spans"]
        assert got[url]["n_regions"] == len(spans), url
        assert [
            (s["box"], s["det_score"], s["raw"], s["batch_id"], s["rec_width"])
            for s in spans
        ] == want, url
