"""Spark-vs-oracle byte-identity (the north-rule invariant).

The distributed pipeline must produce byte-identical ``extracted_text``
per url to the single-process oracle, regardless of partitioning,
batching, or which straggler path a document takes (SURVEY.md §4.1, §5).
"""

import duckdb
import pytest

from onnxocr_ray_spark.config import DEFAULT_CONFIG, ExtractConfig
from onnxocr_ray_spark.operators.extract import extract
from onnxocr_ray_spark.oracle import extract_serial
from onnxocr_ray_spark.sources.pages import pages_from_documents, pages_local

from tests.conftest import SF0001


@pytest.fixture(scope="module")
def oracle_results():
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF0001}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    return extract_serial(pages_local(rows))


def _collect_spark(spark, cfg, doc_partitions=None, straggler_html_bytes=256 << 10,
                   exact_shape=False):
    pages = pages_from_documents(spark, SF0001)
    if doc_partitions is not None:
        pages = pages.repartition(doc_partitions, "url")
    if exact_shape:
        # the north-rule 5-column table (no ingest size column): extract()
        # derives html_size as octet_length(html)
        pages = pages.drop("html_size")
    out = extract(pages, cfg, straggler_html_bytes=straggler_html_bytes)
    rows = out.select("url", "extracted_text", "n_spans", "checksum").collect()
    spark.catalog.clearCache()
    return {r["url"]: r for r in rows}


def _assert_parity(spark_rows, oracle_results):
    assert set(spark_rows) == set(oracle_results)
    mismatches = [
        u
        for u in oracle_results
        if spark_rows[u]["extracted_text"] != oracle_results[u].extracted_text
    ]
    assert mismatches == [], f"{len(mismatches)} urls differ, e.g. {mismatches[:3]}"
    for u in oracle_results:
        assert spark_rows[u]["checksum"] == oracle_results[u].checksum
        assert spark_rows[u]["n_spans"] == oracle_results[u].n_spans


def test_spark_matches_oracle(spark, oracle_results):
    _assert_parity(_collect_spark(spark, DEFAULT_CONFIG), oracle_results)


def test_parity_survives_repartitioning(spark, oracle_results):
    _assert_parity(
        _collect_spark(spark, DEFAULT_CONFIG, doc_partitions=13), oracle_results
    )


def test_parity_all_docs_through_straggler_path(spark, oracle_results):
    """Force every non-empty document through the span-exploded path:
    results must be byte-identical to the fused path / oracle
    (SURVEY.md §4.3.3)."""
    _assert_parity(
        _collect_spark(spark, DEFAULT_CONFIG, straggler_html_bytes=0), oracle_results
    )


def test_parity_exact_shape_routed_path(spark, oracle_results):
    """No html_size column: routing on the derived octet_length(html)
    must be byte-identical to the sized table and the oracle."""
    _assert_parity(
        _collect_spark(spark, DEFAULT_CONFIG, exact_shape=True), oracle_results
    )


def test_parity_exact_shape_all_stragglers(spark, oracle_results):
    _assert_parity(
        _collect_spark(
            spark, DEFAULT_CONFIG, exact_shape=True, straggler_html_bytes=0
        ),
        oracle_results,
    )


def test_flagship_has_content(spark):
    pages = pages_from_documents(spark, SF0001)
    out = extract(pages)
    row = (
        out.filter("n_spans > 0")
        .orderBy("url")
        .select("url", "extracted_text")
        .first()
    )
    assert row is not None and len(row["extracted_text"]) > 0
    spark.catalog.clearCache()


def test_parity_poly_box_type(spark):
    """det_box_type="poly" (the reference's polygons_from_bitmap branch,
    db_postprocess.py:58-100): distributed == serial byte-identically
    under the variant config too."""
    from dataclasses import replace

    cfg = replace(DEFAULT_CONFIG, det_box_type="poly")
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF0001}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    oracle = extract_serial(pages_local(rows), cfg)
    _assert_parity(_collect_spark(spark, cfg), oracle)


def test_parity_use_dilation(spark):
    """use_dilation=True (op_dilate, the 2x2 cv2.dilate analog of
    db_postprocess.py:223-224): distributed == serial byte-identically
    under the variant config, across the full sf0.001 corpus."""
    from dataclasses import replace

    cfg = replace(DEFAULT_CONFIG, use_dilation=True)
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{SF0001}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    oracle = extract_serial(pages_local(rows), cfg)
    _assert_parity(_collect_spark(spark, cfg), oracle)


def test_golden_sample_pins_match_serial_oracle():
    """The extract_golden_sample VALUES oracle is pinned FROM the serial
    oracle over the fixture docs; if the synthesizer or kernel
    legitimately changes, this test fails first and tells you to
    regenerate the pins (entrypipeline.py), rather than a driver row
    going silently red."""
    from onnxocr_ray_spark.entrypipeline import _GOLDEN_DOCS, _GOLDEN_SAMPLE

    res = extract_serial(pages_local(_GOLDEN_DOCS))
    got = [(u, r.n_spans, r.checksum) for u, r in res.items()]
    assert sorted(got) == sorted(_GOLDEN_SAMPLE)


def test_golden_sample_poly_pins_match_serial_oracle():
    """Same drift guard for the poly-config pins, including the
    geometry hash (box_sig pins regenerate with the same formula here
    if the outline algorithm legitimately changes)."""
    import hashlib
    import json
    import math
    from dataclasses import replace

    from onnxocr_ray_spark.entrypipeline import _GOLDEN_DOCS, _GOLDEN_SAMPLE_POLY

    cfg = replace(DEFAULT_CONFIG, det_box_type="poly")
    res = extract_serial(pages_local(_GOLDEN_DOCS), cfg)

    def box_sig(spans):
        boxes = [
            [
                [
                    int(math.floor(p[0] * 1000 + 0.5)),
                    int(math.floor(p[1] * 1000 + 0.5)),
                ]
                for p in s.box
            ]
            for s in spans
        ]
        return hashlib.md5(
            json.dumps(boxes, separators=(",", ":")).encode()
        ).hexdigest()

    got = [(u, r.n_spans, r.checksum, box_sig(r.spans)) for u, r in res.items()]
    assert sorted(got) == sorted(_GOLDEN_SAMPLE_POLY)


def test_golden_sample_dilate_pins_match_serial_oracle():
    """Drift guard for the use_dilation pins, plus the evidence claim
    the registry doc makes: the flag must actually merge regions on
    most fixture docs (not reduce to the base goldens)."""
    from dataclasses import replace

    from onnxocr_ray_spark.entrypipeline import (
        _GOLDEN_DOCS, _GOLDEN_SAMPLE, _GOLDEN_SAMPLE_DILATE,
    )

    cfg = replace(DEFAULT_CONFIG, use_dilation=True)
    res = extract_serial(pages_local(_GOLDEN_DOCS), cfg)
    got = [(u, r.n_spans, r.checksum) for u, r in res.items()]
    assert sorted(got) == sorted(_GOLDEN_SAMPLE_DILATE)
    base = {u: (n, c) for u, n, c in _GOLDEN_SAMPLE}
    changed = sum(
        1 for u, n, c in _GOLDEN_SAMPLE_DILATE if base[u] != (n, c)
    )
    assert changed >= 8, f"dilation only changed {changed}/12 docs"
