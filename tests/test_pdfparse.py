"""PDF layout-parse leg: synthesis + structural parse invariants.

The oracle-alignment suite already runs `pdf_extract_text` vs DuckDB at
sf0.001; these tests pin the pure-Python properties the Spark plumbing
relies on, including the adversarial cases the driver data never hits.
"""

import pandas as pd
import pytest

from onnxocr_ray_spark.operators.pdfparse import (
    LINE_CHARS,
    PAGE_LINES,
    parse_pdf_bytes,
    pdf_extract,
    synth_pdf,
    synth_pdf_bytes,
)

ADVERSARIAL = [
    "",                                         # empty doc -> 1 span, 1 page
    "plain ascii",
    "parens (nested (deep)) and \\ backslash",
    "newline\nand\ttab\rand\x0cformfeed",
    "unicode: éß中文 \U0001f600 mixed",
    ")endstream\nendobj\nstartxref fake markers inside text(",
    "x" * (LINE_CHARS * PAGE_LINES * 2 + 7),     # 3 pages, ragged tail
    "a" * LINE_CHARS,                            # exactly one full line
]


@pytest.mark.parametrize("idx,text", list(enumerate(ADVERSARIAL)))
def test_roundtrip_byte_identical(idx, text):
    doc_id = 1000 + idx
    pdf = synth_pdf_bytes(doc_id, text)
    assert pdf.startswith(b"%PDF-1.4")
    got, n_spans, n_pages = parse_pdf_bytes(pdf)
    assert got == text
    want_spans = max(-(-len(text) // LINE_CHARS), 1)
    assert n_spans == want_spans
    assert n_pages == max(-(-want_spans // PAGE_LINES), 1)


def test_span_order_is_scrambled_in_file():
    """The content stream must NOT emit spans in reading order — a parser
    that ignores coordinates and concatenates in file order gets garbage.
    (Guards against a future 'simplification' that quietly makes the
    oracle check vacuous.)"""
    text = "".join(f"line{j:04d}".ljust(LINE_CHARS) for j in range(12))
    pdf = synth_pdf_bytes(7, text)
    body = pdf[pdf.index(b"stream\n") + 7 : pdf.index(b"\nendstream")]
    # strip hex-encoded spans to their decoded text for the file-order probe
    file_order = []
    for chunk in body.split(b"ET"):
        i = chunk.find(b"(")
        h = chunk.find(b"<")
        if 0 <= h < i or (h >= 0 and i < 0):
            j = chunk.index(b">", h)
            file_order.append(bytes.fromhex(chunk[h + 1 : j].decode()))
        elif i >= 0:
            j = chunk.rindex(b")")
            file_order.append(chunk[i + 1 : j])
    concat = b"".join(file_order).decode("utf-8", "replace")
    assert concat != text  # file order is NOT reading order
    assert parse_pdf_bytes(pdf)[0] == text  # coordinate sort recovers it


def test_malformed_payloads_do_not_fail_the_task(spark):
    rows = [
        (1, b"not a pdf at all"),
        (2, b"%PDF-1.4\ntruncated"),
        (3, synth_pdf_bytes(3, "good doc survives the batch")),
        (4, b""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, pdf binary")
    out = {r["doc_id"]: r for r in pdf_extract(df).collect()}
    assert out[3]["parse_ok"] and out[3]["pdf_text"] == "good doc survives the batch"
    for bad in (1, 2, 4):
        assert not out[bad]["parse_ok"]
        assert out[bad]["pdf_text"] is None


def test_spark_synth_parse_roundtrip(spark):
    texts = [(i, t) for i, t in enumerate(ADVERSARIAL)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    parsed = pdf_extract(synth_pdf(docs)).toPandas().set_index("doc_id")
    for i, t in texts:
        assert parsed.loc[i, "pdf_text"] == t
        assert bool(parsed.loc[i, "parse_ok"])


def test_plan_is_shuffle_free(spark):
    """Synthesis+parse is two chained per-row maps over the scan — at 100 TB
    the job must stay embarrassingly parallel: no Exchange in the plan."""
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = pdf_extract(synth_pdf(docs))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_read_pdf_dir(spark, tmp_path):
    from onnxocr_ray_spark.operators.pdfparse import read_pdf_dir

    (tmp_path / "a.pdf").write_bytes(synth_pdf_bytes(1, "alpha doc"))
    (tmp_path / "b.pdf").write_bytes(synth_pdf_bytes(2, "beta doc"))
    (tmp_path / "broken.pdf").write_bytes(b"%PDF-1.4 truncated")
    (tmp_path / "ignored.txt").write_bytes(b"nope")
    rows = {r["url"].rsplit("/", 1)[1]: r
            for r in read_pdf_dir(spark, str(tmp_path)).collect()}
    assert set(rows) == {"a.pdf", "b.pdf", "broken.pdf"}
    assert rows["a.pdf"]["pdf_text"] == "alpha doc" and rows["a.pdf"]["parse_ok"]
    assert rows["b.pdf"]["pdf_text"] == "beta doc"
    assert not rows["broken.pdf"]["parse_ok"]
    assert rows["a.pdf"]["warc_ts"] is not None
